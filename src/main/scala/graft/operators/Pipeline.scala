package graft.operators

import graft.functions.{HashFns, TextFns}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Dataset-assembly operators a training-data pipeline runs after
  * cleaning/dedup: deterministic splits, stratified sampling, and the
  * corpus statistics that land on a dataset card. All are narrow maps
  * or single partial-agg shuffles — scan-speed at 100 TB — and all are
  * content-deterministic (hash-based, never rand()), so reruns and the
  * oracle agree bit-for-bit.
  */
object Pipeline {

  /** Deterministic 90/10 train/holdout assignment by rolling-hash of
    * the doc id — stable under reruns, resharding, and engine moves
    * (the property rand(seed)-based splits lack).
    */
  def trainTestSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        (HashFns.rollingHash(col("doc_id").cast("string")) % 100).as("h"))
      .select(col("doc_id"),
        when(col("h") < 90, "train").otherwise("holdout").as("split"))
      .orderBy("doc_id")

  /** Stratified deterministic sample: ~25% of documents per language,
    * selected by hash threshold within each stratum.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(HashFns.rollingHash(col("doc_id").cast("string")) % 100 < 25)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  /** Corpus statistics per (source, lang): docs, tokens, chars —
    * the dataset-card rollup. One partial-agg shuffle.
    */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tok"),
        length(col("text")).cast("long").as("n_chr"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chr")).as("n_chars"))
      .orderBy("source", "lang")

  /** Uniform deterministic k-sample: the 100 documents with the
    * smallest md5 of a salted doc key — reproducible uniform-without-
    * replacement sampling (change the salt to redraw). Order-by-hash +
    * limit plans as TakeOrderedAndProject: per-partition bounded
    * heaps, no global sort — at 100 TB each executor ships only its
    * local top-100.
    */
  def sampleK(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(concat(lit("sample:"), col("doc_id").cast("string"))).as("h"))
      .orderBy("h")
      .limit(100)

  /** Deterministic WEIGHTED reservoir sample (Efraimidis–Spirakis
    * A-ES): each doc draws a uniform u from a salted id hash
    * (u = (h mod 1e6 + 0.5)/1e6 — never 0 or 1), takes sort key
    * ln(u)/w with weight w = its token count, and the global top-100
    * keys are the sample — longer docs proportionally likelier,
    * exactly the one-pass weighted sampler a token-budgeted corpus
    * draw uses. Distributed shape: one narrow map + TakeOrdered
    * bounded heaps (no shuffle, no sort of the corpus); at any scale
    * the per-partition heaps hold k=100 rows. The key is rounded to
    * 6dp BEFORE ordering (rank ties broken by doc_id), the
    * round-before-order convention of every top-k in the gate.
    */
  /** (doc_id, n_tokens, es_key) E-S sort keys for any (doc_id, text)
    * frame — shared by [[sampleWeighted]] and the continuous
    * reservoir ([[graft.streaming.Stream.weightedReservoir]]): the
    * key depends only on the doc, so batch and streaming draws agree.
    */
  def esKeysOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("u",
        (HashFns.rollingHash(concat(lit("wsample:"), col("doc_id").cast("string"))) % 1000000L
          + lit(0.5)) / lit(1000000.0))
      .withColumn("es_key", round(log(col("u")) / col("n_tokens").cast("double"), 6))
      .select(col("doc_id"), col("n_tokens"), col("es_key"))

  def sampleWeighted(spark: SparkSession, dir: String): DataFrame =
    esKeysOf(Tables.documents(spark, dir))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(100)

  /** Deterministic source-interleaved curriculum: each source's docs
    * are ranked by a content hash, then emitted round-robin (all the
    * rank-1 docs across sources, then rank-2, ...) so any prefix of
    * the output is source-balanced — the data-mixing step before
    * training. One shuffle (the per-source rank window); the final
    * orderBy is presentation-only.
    */
  def interleaveSources(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(HashFns.rollingHash(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("rnd", row_number().over(w).cast("long"))
      .filter(col("rnd") <= 5)
      .orderBy("rnd", "source", "doc_id")
  }

  /** Ubiquitous-shingle document-frequency cap shared by ALL THREE
    * contamination surfaces (check/apply/bloom) AND interpolated into
    * their DuckDB oracles — one constant, so the engines and the
    * check/apply verdicts can never desynchronize. */
  val ContaminationDfCap = 100

  /** A train doc is `kept` iff it shares FEWER THAN this many distinct
    * df-capped shingles with the holdout — [[contaminationApply]]'s
    * drop rule, interpolated into its oracle for the same reason. */
  val ContaminationKeepBelow = 3

  /** Default shingle width of the contamination family. The gate keys
    * pin 3 (the dedup family's shared kernel); production
    * decontamination (the GPT-3/Pile discipline the scaladocs cite)
    * overlaps on 8–13-gram windows — every surface takes `n` as a
    * knob and `contamination_ngram8` is the oracle-gated 8-gram
    * instantiation. The df cap applies identically at any width. */
  val ContaminationShingleN = 3

  /** The (doc_id, hh) df-capped distinct-shingle stream every
    * contamination surface starts from: ubiquitous shingles
    * (corpus df > [[ContaminationDfCap]]) dropped first, exactly as
    * production decontamination ignores boilerplate n-grams — which
    * also bounds the join's per-key fan-out at 100 TB (no
    * stopword-shingle quadratic bucket can exist after the cap).
    */
  private def dfCappedShingles(docs: DataFrame,
                               n: Int = ContaminationShingleN): DataFrame = {
    val sh = Dedup.shingleHashesN(docs, n)
      .select(col("doc_id"), explode(array_distinct(col("hs"))).as("hh"))
    val keep = sh.groupBy("hh")
      .agg(countDistinct(col("doc_id")).as("sdf"))
      .filter(col("sdf") <= ContaminationDfCap)
      .select("hh")
    sh.join(keep, "hh")
  }

  /** Benchmark decontamination: holdout documents sharing a 3-token
    * shingle with any train document, under the [[trainTestSplit]]
    * assignment — the overlap audit run before a holdout set is
    * trusted. One shingle-keyed shuffle joins the two sides of the
    * [[dfCappedShingles]] stream; everything upstream is the same
    * narrow codegen'd shingle kernel the dedup family shares.
    */
  def contaminationCheck(spark: SparkSession, dir: String,
                         n: Int = ContaminationShingleN): DataFrame = {
    val informative = dfCappedShingles(Tables.documents(spark, dir), n)
    val isTrain = HashFns.rollingHash(col("doc_id").cast("string")) % 100 < 90
    val train = informative.filter(isTrain)
      .select(col("hh"), col("doc_id").as("train_doc"))
    val hold = informative.filter(!isTrain)
      .select(col("hh"), col("doc_id").as("holdout_doc"))
    hold.join(train, "hh")
      .groupBy("holdout_doc")
      .agg(countDistinct(col("train_doc")).as("n_train_docs"),
        countDistinct(col("hh")).as("n_shared_shingles"))
      .orderBy("holdout_doc")
  }

  /** The APPLY half of benchmark decontamination — [[contaminationCheck]]
    * detects holdout↔train shingle overlap; this emits the per-TRAIN-doc
    * verdict the corpus actually acts on (the GPT-3/Pile discipline:
    * DROP the contaminated train doc, never touch the benchmark):
    * every train-split doc with its shared-shingle and holdout-doc
    * counts and `kept` = shares < 3 distinct df-capped shingles with
    * the holdout. Same df-capped shingle join as the check (the Bloom
    * twin is the 100 TB pre-filter); one extra left join back to the
    * train roster so clean docs report 0/0/true rather than vanishing.
    */
  def contaminationApply(spark: SparkSession, dir: String,
                         n: Int = ContaminationShingleN): DataFrame = {
    val informative = dfCappedShingles(Tables.documents(spark, dir), n)
    val isTrain = HashFns.rollingHash(col("doc_id").cast("string")) % 100 < 90
    val train = informative.filter(isTrain)
      .select(col("hh"), col("doc_id").as("train_doc"))
    val hold = informative.filter(!isTrain)
      .select(col("hh"), col("doc_id").as("holdout_doc"))
    val flagged = train.join(hold, "hh")
      .groupBy(col("train_doc").as("doc_id"))
      .agg(countDistinct(col("hh")).as("n_shared_shingles"),
        countDistinct(col("holdout_doc")).as("n_holdout_docs"))
    Tables.documents(spark, dir)
      .filter(isTrain)
      .select(col("doc_id"))
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_shingles"), lit(0L)).as("n_shared_shingles"),
        coalesce(col("n_holdout_docs"), lit(0L)).as("n_holdout_docs"),
        (coalesce(col("n_shared_shingles"), lit(0L)) <
          ContaminationKeepBelow).as("kept"))
      .orderBy("doc_id")
  }

  /** The end-to-end cleaning funnel a training corpus goes through,
    * as ONE composed query: raw → quality rules
    * ([[TextAnalysis.qualityFlagsOf]]) → exact dedup (canonical
    * md5(text) member) → near-dup removal (simhash pairs AMONG the
    * survivors → connected components → drop non-canonicals) → train
    * split. Output = documents surviving each stage — the dataset-card
    * funnel, and the audit that every cleaning stage actually ran.
    * Each stage is the already-proven operator applied to the previous
    * stage's survivors; nothing here is new machinery, which is the
    * point: the pipeline is composition, not a monolith.
    */
  def pipelineClean(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (nd, stages) = cleanOf(docs)
    val tr = nd.filter(HashFns.rollingHash(col("doc_id").cast("string")) % 100 < 90)
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs")).select(lit(name).as("stage"), col("n_docs"))
    (stages :+ stage("4_train", tr))
      .reduce(_ unionByName _)
      .orderBy("stage")
  }

  /** The quality → exact-dedup → near-dup funnel over ANY
    * (doc_id, text, ...) corpus — [[pipelineClean]]'s machinery
    * factored for reuse (the CLI `clean` verb writes the survivors).
    * Returns (survivor frame, per-stage count frames 0_raw..3_near_dedup).
    */
  def cleanOf(docs: DataFrame): (DataFrame, Seq[DataFrame]) = {
    val qd = TextAnalysis.qualityFlagsOf(docs).filter(col("keep") === 1L)
      .select(docs.columns.map(col): _*)
    val canon = qd.groupBy(md5(col("text")).as("k"))
      .agg(min(col("doc_id")).as("doc_id"))
    // the exact-dedup survivor frame feeds four downstream branches
    // (simhash pairs, near-dup anti-join, train filter, stage counts):
    // materialize it once — the branches differ, so ReusedExchange
    // cannot dedupe them (same reasoning as neardupPagerank's edges)
    val ed = qd.join(canon.select("doc_id"), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val drop = GraftOps.connectedComponents(
        Dedup.simhashPairsOf(ed).select("doc_a", "doc_b"),
        srcCol = "doc_a", dstCol = "doc_b")
      .filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))
    // nd feeds both the survivor consumer (CLI write / train split)
    // and its own stage count — materialize so the CC doesn't run twice
    val nd = ed.join(drop, Seq("doc_id"), "left_anti").localCheckpoint()
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs")).select(lit(name).as("stage"), col("n_docs"))
    (nd, Seq(stage("0_raw", docs), stage("1_quality", qd),
      stage("2_exact_dedup", ed), stage("3_near_dedup", nd)))
  }

  /** Persist a corpus's distinct shingle-hash set — the reference
    * artifact [[graft.streaming.Stream.contaminationGate]] screens
    * incoming documents against. One column, repartitioned by hash
    * range so the per-batch join shuffles evenly.
    */
  def saveShingleSet(docs: DataFrame, path: String): Unit =
    Dedup.shingleHashes(docs)
      .select(explode(array_distinct(col("hs"))).as("hh"))
      .distinct()
      .repartitionByRange(32, col("hh"))
      .write.mode("overwrite").parquet(path)

  /** Source-mix rebalancing weights: each source's token count vs the
    * uniform target share, and the per-source sampling rate
    * min(1, target/actual) that downsamples overrepresented sources
    * to the target mix — the computation behind every "data mixture"
    * table in a training run. One partial-agg shuffle + a broadcast
    * 1-row total; rates are a fixed two-division double expression.
    */
  def samplingWeights(spark: SparkSession, dir: String): DataFrame = {
    val perSrc = Tables.documents(spark, dir)
      .select(col("source"), size(TextFns.tokens(col("text"))).cast("long").as("t"))
      .groupBy("source").agg(sum(col("t")).as("n_tokens"))
    val tot = perSrc.agg(sum(col("n_tokens")).cast("double").as("total"),
      count(lit(1)).cast("double").as("nsrc"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        round(lit(1.0) / col("nsrc"), 6).as("target_share"),
        round(col("n_tokens") / col("total"), 6).as("actual_share"),
        round(least(lit(1.0),
          (col("total") / col("nsrc")) / col("n_tokens")), 6).as("sample_rate"))
      .orderBy("source")
  }

  /** Largest-remainder (Hamilton) allocation of a fixed 1M-token
    * training budget across sources, proportional to their token
    * counts — the integer-exact step after [[samplingWeights]]'
    * real-valued shares: quota = ⌊B·n_s/N⌋ via INTEGER division,
    * remainder = B·n_s − quota·N stays integral, and the leftover
    * tokens go to the largest remainders (source-name tie-break), so
    * the boundary behavior is bit-identical on both engines — no
    * float ever touches the allocation. The only heavy stage is the
    * per-source token rollup; the allocation itself runs on the
    * |sources|-row frame (single-partition window on ~20 rows).
    */
  def tokenBudgetAllocation(spark: SparkSession, dir: String): DataFrame = {
    val B = 1000000L
    val perSrc = Tables.documents(spark, dir)
      .select(col("source"), size(TextFns.tokens(col("text"))).cast("long").as("t"))
      .groupBy("source").agg(sum(col("t")).as("n_tokens"))
    val tot = perSrc.agg(sum(col("n_tokens")).as("total"))
    val q = perSrc.crossJoin(broadcast(tot))
      .withColumn("quota", expr(s"($B * n_tokens) div total"))
      .withColumn("rem", lit(B) * col("n_tokens") - col("quota") * col("total"))
    val rk = q
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))))
      .withColumn("leftover", lit(B) - sum(col("quota")).over(Window.partitionBy()))
      .withColumn("alloc_tokens",
        (col("quota") + when(col("rk") <= col("leftover"), 1L).otherwise(0L)).cast("long"))
    rk.select(col("source"), col("n_tokens"), col("alloc_tokens"),
        round(col("alloc_tokens").cast("double") / lit(B.toDouble), 6).as("alloc_share"))
      .orderBy("source")
  }

  /** [[contaminationCheck]] with a Bloom pre-filter — the PRIMARY
    * contamination path (the exact unfiltered join is the audit twin):
    * a bloom filter of the train-side shingles screens holdout
    * shingles BEFORE the join, so at 100 TB the shuffle carries only
    * probable matches (typically a tiny fraction) instead of every
    * holdout shingle. Blooms have no false negatives and the exact
    * join still verifies every survivor, so the output is IDENTICAL
    * to the unfiltered operator — the gate runs both against the same
    * oracle.
    *
    * Fully codegen'd, no UDF: the sketch is built by Spark's own
    * `BloomFilterAggregate` (partial-aggregated and merged like any
    * sketch — the [[Dedup.sourceSimilarity]] mergeability pattern),
    * deliberately materialized once on the driver (a ~100 KB binary,
    * the same shape as `stat.bloomFilter` but declarative until the
    * one action), and applied with the codegen'd
    * `BloomFilterMightContain` predicate — exactly the expression
    * pair Spark's runtime bloom-join filters inject.
    */
  def contaminationBloom(spark: SparkSession, dir: String,
                         n: Int = ContaminationShingleN): DataFrame = {
    // the df-capped shingle stream feeds BOTH the eager bloom build
    // (one driver materialization) and the lazy verify join:
    // checkpoint it once or the whole shingle+df pipeline runs twice
    // (same reasoning as pipelineClean's exact-dedup survivor frame)
    val informative = dfCappedShingles(Tables.documents(spark, dir), n)
      .localCheckpoint()
    val isTrain = HashFns.rollingHash(col("doc_id").cast("string")) % 100 < 90
    val train = informative.filter(isTrain)
      .select(col("hh"), col("doc_id").as("train_doc"))
    // expectedNumItems sizes the sketch for the gate corpus; an
    // undersized bloom only raises the false-positive rate (more rows
    // reach the exact verify), never correctness — production sizes it
    // from the train side's countApprox
    val bloomAgg = GraftBridge.column(
      new BloomFilterAggregate(GraftBridge.expression(col("hh")), 200000L)
        .toAggregateExpression())
    val bf = train.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    val mightContain = GraftBridge.column(BloomFilterMightContain(
      Literal(bf, BinaryType), GraftBridge.expression(col("hh"))))
    val hold = informative.filter(!isTrain)
      .select(col("hh"), col("doc_id").as("holdout_doc"))
      .filter(mightContain)
    hold.join(train, "hh")
      .groupBy("holdout_doc")
      .agg(countDistinct(col("train_doc")).as("n_train_docs"),
        countDistinct(col("hh")).as("n_shared_shingles"))
      .orderBy("holdout_doc")
  }

  /** Fixed-size token chunking with overlap (size 32, stride 24): the
    * context-window shaping step before embedding or training. Chunk
    * starts are `sequence(0, n-1, stride)` so every token is covered
    * and consecutive chunks share `size - stride` tokens. Entirely
    * narrow — explode + slice over the per-doc token array, no shuffle
    * (the orderBy is presentation-only); at 100 TB this runs at scan
    * speed and the output feeds the embedding UDF stage directly.
    */
  def docChunking(spark: SparkSession, dir: String): DataFrame =
    docChunkingOf(Tables.documents(spark, dir), chunkSize = 32, stride = 24)

  def docChunkingOf(docs: DataFrame, chunkSize: Int, stride: Int): DataFrame =
    docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")).cast("long"))
      .filter(col("n") > 0L)
      .select(col("doc_id"), col("tk"),
        posexplode(sequence(lit(0L), col("n") - 1L, lit(stride.toLong))).as(Seq("chunk_id", "s")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        slice(col("tk"), col("s") + 1L, lit(chunkSize)).as("ck"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ck")).cast("long").as("n_tokens"),
        array_join(col("ck"), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")

  /** Concat-and-chunk sequence packing: the corpus token stream in
    * doc_id order, cut into fixed 256-token packs (docs may straddle a
    * boundary — the standard LLM pretraining packing). Per pack:
    * contributing docs, token count, first/last doc. The global
    * positions come from [[GraftOps.runningTotal]]'s two-phase prefix
    * sum (per-bucket partials + broadcast offsets), so no stage ever
    * funnels the corpus through one task — the 100 TB-safe form of the
    * "one big window" formulation. Each doc then explodes to only the
    * packs it touches (≤ n/budget + 1 rows) and one partial-agg
    * shuffle builds the pack table.
    */
  def packChunks(spark: SparkSession, dir: String): DataFrame =
    packChunksOf(Tables.documents(spark, dir), budget = 256L)

  /** Packing-efficiency rollup over [[packChunks]]: pack count, how
    * many packs are exactly full, total/min token fill, and the fill
    * rate against the 256-token budget — the wasted-compute metric a
    * training run reads before accepting a packing. One aggregate
    * over the packs frame (already corpus-rollup-sized); only the
    * final (non-full) pack can be short, so fill_rate ≈ 1 is the
    * expected healthy value. Integer sums, one terminal division.
    */
  def packEfficiencyReport(spark: SparkSession, dir: String): DataFrame =
    packChunks(spark, dir).agg(
      count(lit(1)).as("n_packs"),
      sum(when(col("n_tokens") === 256L, 1L).otherwise(0L)).as("full_packs"),
      sum(col("n_tokens")).as("total_tokens"),
      min(col("n_tokens")).as("min_fill"),
      round(sum(col("n_tokens")).cast("double") /
        (count(lit(1)) * lit(256L)).cast("double"), 6).as("fill_rate"))

  def packChunksOf(docs: DataFrame, budget: Long): DataFrame = {
    val counts = docs
      .select(col("doc_id"), size(TextFns.tokens(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0L)
    val cum = GraftOps.runningTotal(counts, order = col("doc_id"),
        value = col("n"), bucket = expr("doc_id div 64"))
      .withColumn("cb", col("running") - col("n"))
    cum
      .select(col("doc_id"), col("n"), col("cb"),
        explode(sequence(expr(s"cb div $budget"),
          expr(s"(cb + n - 1) div $budget"))).as("pack_id"))
      .groupBy("pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("cb") + col("n"), (col("pack_id") + 1L) * budget) -
          greatest(col("cb"), col("pack_id") * budget)).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("pack_id")
  }

  /** Token budget per pack for [[packTokens]] — interpolated into the
    * oracle so the engines share one constant. */
  val PackTokensBudget = 256L

  /** TOKEN-ID sequence packing — the step an LLM pretraining pipeline
    * actually ships: [[packChunks]] packs whitespace-token COUNTS;
    * this packs the trained tokenizer's real per-doc subword id
    * sequences ([[TextAnalysis.bpeEncode]]) into fixed
    * [[PackTokensBudget]]-token training sequences, emitting each
    * pack's materialized ids (docs straddle boundaries; a straddling
    * doc's sequence is SLICED at the boundary, so concatenating the
    * packs reproduces the corpus token stream exactly — spec-asserted
    * roundtrip). Same 100 TB shape as packChunks: global positions via
    * [[GraftOps.runningTotal]]'s two-phase prefix sum (no corpus-wide
    * window), each doc explodes to only the packs it touches, one
    * partial-agg shuffle builds the pack table; the id slicing is
    * row-local array arithmetic on the encode frame.
    */
  def packTokens(spark: SparkSession, dir: String): DataFrame =
    packTokensOf(Tables.documents(spark, dir), PackTokensBudget)

  def packTokensOf(docs: DataFrame, budget: Long): DataFrame = {
    val enc = TextAnalysis.bpeEncFrame(docs)
      .filter(col("n_subwords") > 0L)
      .select(col("doc_id"), col("n_subwords").as("n"),
        split(col("token_ids"), " ").as("ids"))
    val cum = GraftOps.runningTotal(enc, order = col("doc_id"),
        value = col("n"), bucket = expr("doc_id div 64"))
      .withColumn("cb", col("running") - col("n"))
    cum
      .select(col("doc_id"), col("n"), col("cb"), col("ids"),
        explode(sequence(expr(s"cb div $budget"),
          expr(s"(cb + n - 1) div $budget"))).as("pack_id"))
      // the doc's slice landing in this pack: global token positions
      // [max(cb, pack·b), min(cb+n, (pack+1)·b)) → local 1-based slice
      .withColumn("lo", greatest(col("cb"), col("pack_id") * budget) - col("cb"))
      .withColumn("hi",
        least(col("cb") + col("n"), (col("pack_id") + 1L) * budget) - col("cb"))
      .select(col("pack_id"), col("doc_id"), (col("hi") - col("lo")).as("seg_n"),
        expr("slice(ids, cast(lo as int) + 1, cast(hi - lo as int))").as("seg"))
      .groupBy("pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("seg_n")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        array_join(transform(
          sort_array(collect_list(struct(col("doc_id"), col("seg")))),
          e => array_join(e("seg"), " ")), " ").as("token_ids"))
      .orderBy("pack_id")
  }

  /** Packing-efficiency rollup over [[packTokens]] —
    * [[packEfficiencyReport]]'s twin for the SHIPPED packing: pack
    * count, full packs, total/min subword fill and the fill rate
    * against [[PackTokensBudget]] — the wasted-compute number a
    * training run reads off the real token-id packs. One aggregate
    * over the (already corpus-rollup-sized) pack frame.
    */
  def packTokensReport(spark: SparkSession, dir: String): DataFrame =
    packTokens(spark, dir).agg(
      count(lit(1)).as("n_packs"),
      sum(when(col("n_tokens") === PackTokensBudget, 1L).otherwise(0L))
        .as("full_packs"),
      sum(col("n_tokens")).as("total_tokens"),
      min(col("n_tokens")).as("min_fill"),
      round(sum(col("n_tokens")).cast("double") /
        (count(lit(1)) * lit(PackTokensBudget)).cast("double"), 6).as("fill_rate"))

  /** The dataset card in one row: corpus size, token volume, source/
    * language spread, exact-duplicate rate, and the quality keep rate —
    * the numbers a released dataset publishes. Each component is a
    * 1-row aggregate over one corpus pass (cross-joined broadcast
    * scalars, never a driver action), so the card costs three scans at
    * any corpus size and composes with [[pipelineClean]]'s funnel.
    */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(md5(col("text"))).as("n_unique"))
    val tok = docs
      .select(size(TextFns.tokens(col("text"))).cast("long").as("n"))
      .agg(sum(col("n")).as("n_tokens"))
    val keep = TextAnalysis.qualityFlagsOf(docs).agg(sum(col("keep")).as("n_keep"))
    base.crossJoin(broadcast(tok)).crossJoin(broadcast(keep))
      .select(col("n_docs"), col("n_tokens"), col("n_sources"), col("n_langs"),
        round(col("n_tokens").cast("double") / col("n_docs").cast("double"), 4)
          .as("avg_doc_tokens"),
        round(lit(1.0) - col("n_unique").cast("double") / col("n_docs").cast("double"), 6)
          .as("exact_dup_rate"),
        round(col("n_keep").cast("double") / col("n_docs").cast("double"), 6)
          .as("quality_keep_rate"))
  }

  /** Balanced output-shard manifest: the corpus token stream in doc_id
    * order cut into ~4096-token shards — the writer-side sibling of
    * [[packChunks]] (docs stay WHOLE here; a doc lands in the shard
    * its first token falls in). Shard ids come from
    * [[GraftOps.runningTotal]]'s two-phase prefix sum (per-bucket
    * partials + broadcast offsets — no single-task window at any
    * corpus size); the manifest rollup is one partial-agg shuffle over
    * |shards| rows. This is the operator that decides what each of a
    * 1000-executor job's output files contains, so shards stay
    * token-balanced even when doc lengths are skewed.
    */
  def shardAssign(spark: SparkSession, dir: String): DataFrame =
    shardAssignOf(Tables.documents(spark, dir), budget = 4096L)

  def shardAssignOf(docs: DataFrame, budget: Long): DataFrame = {
    val counts = docs
      .select(col("doc_id"), size(TextFns.tokens(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0L)
    GraftOps.runningTotal(counts, order = col("doc_id"), value = col("n"),
        bucket = expr("doc_id div 64"))
      .withColumn("shard", expr(s"(running - n) div $budget"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("shard")
  }

  /** Per-shard reproducibility manifest — the provenance record a
    * governed training run keeps beside its shards ([[shardAssign]]'s
    * layout made auditable): for every token-budget shard, doc/token
    * counts, the dominant source and its share, and a CONTENT HASH of
    * the ordered member list (md5 over the sorted doc_id list) — the
    * digest that proves two runs consumed byte-identical shard
    * membership without comparing the data. The member-list fold is
    * shard-bounded (≤ budget tokens ⇒ bounded docs), never
    * corpus-wide; everything else is per-shard partial aggs.
    */
  def shardManifest(spark: SparkSession, dir: String): DataFrame =
    shardManifestOf(Tables.documents(spark, dir), budget = 4096L)

  def shardManifestOf(docs: DataFrame, budget: Long): DataFrame = {
    val counts = docs
      .select(col("doc_id"), col("source"),
        size(TextFns.tokens(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0L)
    val sharded = GraftOps.runningTotal(counts, order = col("doc_id"),
        value = col("n"), bucket = expr("doc_id div 64"))
      .withColumn("shard", expr(s"(running - n) div $budget"))
    val base = sharded.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"),
        md5(concat_ws(",", sort_array(collect_list(col("doc_id")))))
          .as("members_md5"))
    val topSrc = sharded.groupBy("shard", "source")
      .agg(count(lit(1)).as("sn"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("shard").orderBy(col("sn").desc, col("source"))))
      .filter(col("rn") === 1)
      .select(col("shard"), col("source").as("top_source"),
        col("sn").as("top_source_docs"))
    base.join(topSrc, "shard")
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        col("top_source"), col("top_source_docs"),
        expr("cast((top_source_docs * 1000000) div n_docs as double) / 1e6")
          .as("top_source_share"),
        col("members_md5"))
      .orderBy("shard")
  }

  /** Temperature-scaled source mixing — the multi-source sampling rule
    * LLM pretraining uses to keep head sources from drowning the tail:
    * weight ∝ tokens^τ with τ = 1/2, so a 100× larger source gets only
    * 10× the sampling mass. Emits per source the raw vs temperature
    * share and the epoch multiplier a 1M-token budget implies
    * (epochs > 1 = the tail source repeats). τ = 1/2 is deliberate:
    * `sqrt` is IEEE-correctly-rounded on BOTH engines (a general `pow`
    * is not), and the weight normalizer is a plain constant-buffer
    * sum. One |sources|-row rollup + a 1-row broadcast — nothing here
    * scales with the corpus.
    */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val perSrc = Tables.documents(spark, dir)
      .select(col("source"), size(TextFns.tokens(col("text"))).cast("long").as("t"))
      .groupBy("source").agg(sum(col("t")).as("n_tokens"))
      .withColumn("w", sqrt(col("n_tokens").cast("double")))
    val tot = perSrc.agg(sum(col("w")).as("wtot"),
      sum(col("n_tokens")).cast("double").as("ttot"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("ttot"), 6).as("raw_share"),
        round(col("w") / col("wtot"), 6).as("temp_share"),
        round((col("w") / col("wtot")) * lit(1000000.0) /
          col("n_tokens").cast("double"), 6).as("epochs_at_1m"))
      .orderBy("source")
  }

  /** Per-source document-length quartiles (EXACT percentiles with
    * linear interpolation — both engines share the (n−1)·p rank
    * convention, and the interpolation fractions are powers of two,
    * so the doubles match bit-for-bit on integer lengths). The
    * distribution shape a corpus QA pass reads before setting length
    * filters: a source whose q75 is tiny is boilerplate; one whose
    * q25 is huge needs chunking first. Spark's exact `percentile`
    * keeps each group's value→count map in one in-memory aggregation
    * buffer; instead the SAME interpolated quantile comes off a
    * per-source VALUE HISTOGRAM: group by (source, n_chars) — the
    * frame is bounded by distinct lengths per source, never by docs —
    * then a source-partitioned cumulative count locates the two
    * bracketing values of each (n−1)·q rank and one line of exact
    * double arithmetic interpolates. Rank positions and fractions are
    * quarter-integers (exact binary doubles on integer lengths), so
    * the output is bitwise-equal to the exact percentile and passes
    * the quantile_cont oracle at every SF — an approx sketch here
    * could never match, since it returns a data value while the
    * oracle interpolates (the r9 sf0.1 find).
    */
  def sourceLengthQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.documents(spark, dir)
      .groupBy(col("source"), col("n_chars")).agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum",
      sum(col("c")).over(Window.partitionBy("source").orderBy("n_chars")))
    val tot = cum.groupBy("source").agg(max(col("cum")).as("nn"))
    cum.join(broadcast(tot), "source")
      .withColumn("q", explode(array(lit(0.25d), lit(0.5d), lit(0.75d))))
      // 0-based fractional rank p = (n-1)·q; bracketing 1-based ranks
      // floor(p)+1 and ceil(p)+1; value at rank r = min length whose
      // cumulative count reaches r
      .withColumn("p", (col("nn") - 1).cast("double") * col("q"))
      .groupBy("source", "q")
      .agg(first(col("nn")).as("nn"), first(col("p")).as("p"),
        min(when(col("cum") >= floor(col("p")) + 1, col("n_chars"))).as("vlo"),
        min(when(col("cum") >= ceil(col("p")) + 1, col("n_chars"))).as("vhi"))
      .withColumn("v", round(col("vlo").cast("double") +
        (col("p") - floor(col("p")).cast("double")) *
          (col("vhi") - col("vlo")).cast("double"), 6))
      .groupBy("source")
      .agg(first(col("nn")).as("n_docs"),
        max(when(col("q") === 0.25d, col("v"))).as("q25"),
        max(when(col("q") === 0.5d, col("v"))).as("q50"),
        max(when(col("q") === 0.75d, col("v"))).as("q75"))
      .orderBy("source")
  }

  // -- DSIR importance resampling (Xie et al. 2023, "Data Selection
  // for Language Models via Importance Resampling"): score every
  // document by how much more likely its hashed-unigram bag is under
  // a target-domain bucket LM than under the raw-corpus bucket LM.
  // Features are tokens hashed into B=64 buckets; both LMs are
  // Laplace-smoothed bucket frequencies; the document score is
  // Σ_b n_b·(ln p_b − ln q_b) over its bucket counts. `keep`=1 marks
  // docs that look more target-like than corpus-average — the
  // resampling side would draw with probability ∝ exp(score).
  // Scale shape: the LM table is a B-row aggregate (broadcast), the
  // per-doc bucket counts are one partial-agg shuffle.

  /** Feature-bucket count: tokens hashed into [[DsirBuckets]] cells. */
  private def dsirBucketOf(tok: Column): Column =
    HashFns.rollingHash(tok) % DsirBuckets

  val DsirBuckets = 64

  /** The 64-row (bucket, llr) LM table: Laplace-smoothed
    * target-vs-raw log-likelihood ratio per hashed-unigram bucket.
    * The bucket universe is the raw buckets (every doc token is in
    * raw by construction); target-absent buckets keep the +1
    * smoothing mass.
    */
  def dsirLlrOf(docs: DataFrame, targetSource: String = "src0"): DataFrame = {
    val B = DsirBuckets
    val toks = docs
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("tok"))
      .withColumn("bucket", dsirBucketOf(col("tok")))
    val raw = toks.groupBy("bucket").agg(count(lit(1)).as("rc"))
    val tgt = toks.filter(col("source") === targetSource)
      .groupBy("bucket").agg(count(lit(1)).as("tc"))
    val lm = raw.join(tgt, Seq("bucket"), "left")
      .withColumn("tc", coalesce(col("tc"), lit(0L)))
    val tot = lm.agg(sum(col("rc")).as("rt"), sum(col("tc")).as("tt"))
    lm.crossJoin(broadcast(tot))
      .select(col("bucket"),
        (log((col("tc") + 1).cast("double") / (col("tt") + B).cast("double")) -
          log((col("rc") + 1).cast("double") / (col("rt") + B).cast("double"))).as("llr"))
  }

  /** Persist the LLR table for streaming scoring
    * ([[graft.streaming.Stream.importanceGate]]) — 64 rows, one file.
    */
  def saveDsirLm(docs: DataFrame, path: String, targetSource: String = "src0"): Unit =
    dsirLlrOf(docs, targetSource).coalesce(1).write.mode("overwrite").parquet(path)

  /** Score (doc_id, text) docs against an LLR table:
    * (doc_id, n_tokens, dsir_logweight, keep). The per-doc fold is
    * bounded at [[DsirBuckets]] entries, so the sorted fold holds no
    * corpus-sized buffer; it only pins the double addition order to
    * bucket-ascending on both engines. Zero-token docs are absent
    * (no feature mass to score).
    */
  def dsirScoreOf(docs: DataFrame, llr: DataFrame): DataFrame = {
    val perDoc = docs
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
      .withColumn("bucket", dsirBucketOf(col("tok")))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).cast("long").as("n"))
    perDoc.join(broadcast(llr), "bucket")
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_tokens"),
        sort_array(collect_list(struct(col("bucket"),
          (col("n") * col("llr")).as("v")))).as("fold"))
      .withColumn("dsir_logweight",
        round(aggregate(col("fold"), lit(0.0), (a, s) => a + s("v")), 6))
      .select(col("doc_id"), col("n_tokens"), col("dsir_logweight"),
        when(col("dsir_logweight") > 0, 1L).otherwise(0L).as("keep"))
  }

  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    dsirScoreOf(docs, dsirLlrOf(docs)).orderBy("doc_id")
  }

  /** Multi-epoch training order: each epoch gets its own
    * deterministic, decorrelated permutation of the corpus — position
    * = rank of the 60-bit md5 prefix of "ep:&lt;epoch&gt;:&lt;doc_id&gt;" —
    * the data order a multi-epoch training loader replays identically
    * across reruns and reshards. md5, not the polynomial rollingHash:
    * the rolling hash of sequential ids is an arithmetic progression
    * mod P (order-structured, and epochs differ only by a rotation),
    * while md5's avalanche makes the permutations independent — the
    * salt discipline [[trainTestSplit]]'s 100-bucket split doesn't
    * need but a full shuffle ORDER does. The per-epoch position is
    * ONE global [[GraftOps.rangeRank]] over the collision-free
    * composite key epoch·2⁶⁰ + h (h < 2⁶⁰) minus the epoch's offset
    * epoch·|docs| — the [[Analytics.revenuePareto]] discipline, no
    * per-epoch unpartitioned window at any corpus size. The rank's
    * cut-point aggregate counts the nEpochs·|docs| keyed rows, so
    * |docs| needs no count job of its own.
    */
  def epochShuffle(spark: SparkSession, dir: String): DataFrame =
    epochShuffleOf(Tables.documents(spark, dir), nEpochs = 3)

  def epochShuffleOf(docs: DataFrame, nEpochs: Int): DataFrame = {
    val epochs = docs.sparkSession.range(0, nEpochs.toLong)
      .select(col("id").as("epoch"))
    val keyed = docs.select(col("doc_id")).crossJoin(broadcast(epochs))
      .withColumn("h", conv(substring(md5(concat(
          lit("ep:"), col("epoch").cast("string"),
          lit(":"), col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long"))
    GraftOps.rangeRank(keyed, col("epoch") * lit(1L << 60) + col("h"), col("doc_id"),
        totals = Seq(count(lit(1)).as("n")))
      .select(col("epoch"), expr(s"rn - epoch * (n div $nEpochs)").as("pos"),
        col("doc_id"))
      .orderBy("epoch", "pos")
  }

  /** Length-free curriculum manifest: bucket the corpus into four
    * training stages by a difficulty proxy (mean characters per token
    * — longer words ≈ denser prose), with stage boundaries at the
    * corpus quartiles of that proxy. Emits the per-stage manifest a
    * curriculum scheduler consumes: doc/token counts plus the
    * difficulty envelope of each stage.
    *
    * Scale shape: Spark's exact `percentile` would hold every distinct
    * difficulty (≈ every doc: the proxy is continuous) in one global
    * aggregation buffer, so the exact interpolated boundaries come
    * from [[GraftOps.rangeRank]] instead:
    * the distributed exact rank locates the two bracketing difficulty
    * values of each (n−1)·q position (a 6-row filter on the ranked
    * frame, n from the rank's own cut-point aggregate) and one line
    * of double arithmetic interpolates — the EXACT quantile_cont
    * formula (vlo + f·(vhi−vlo)) at ANY cardinality with no global
    * aggregation buffer and no unpartitioned window. (An
    * approx_percentile sketch held exact parity only while its rank
    * error was < 1 — the r9 `source_length_quartiles` find, preempted
    * here; difficulty is continuous, so the value-histogram variant
    * would itself be corpus-sized — the rank route is the bounded
    * one.) Everything else is partial-agg over a 4-row final group;
    * the boundary frame is a broadcast 1-row cross join.
    */
  def curriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"),
        length(regexp_replace(col("text"), "\\s", "")).cast("long").as("ntc"))
      .filter(col("n_tokens") > 0)
      .withColumn("difficulty",
        col("ntc").cast("double") / col("n_tokens").cast("double"))
    // for q in {¼, ½, ¾}: p = (n−1)q (0-based); boundary =
    // v[floor(p)] + (p − floor(p))·(v[ceil(p)] − v[floor(p)])
    val qs = GraftOps.rangeRank(d.select(col("difficulty").as("v")), col("v"), col("v"),
        totals = Seq(count(lit(1)).as("nn")))
      .withColumn("q", explode(array(lit(0.25d), lit(0.5d), lit(0.75d))))
      .withColumn("p", (col("nn") - 1).cast("double") * col("q"))
      .filter(col("rn") === floor(col("p")) + 1 || col("rn") === ceil(col("p")) + 1)
      .groupBy("q")
      .agg(first(col("p")).as("p"),
        min(when(col("rn") === floor(col("p")) + 1, col("v"))).as("vlo"),
        min(when(col("rn") === ceil(col("p")) + 1, col("v"))).as("vhi"))
      .withColumn("b", col("vlo") +
        (col("p") - floor(col("p")).cast("double")) * (col("vhi") - col("vlo")))
      .agg(array(
        min(when(col("q") === 0.25d, col("b"))),
        min(when(col("q") === 0.5d, col("b"))),
        min(when(col("q") === 0.75d, col("b")))).as("qs"))
    d.crossJoin(broadcast(qs))
      .withColumn("stage",
        when(col("difficulty") <= col("qs").getItem(0), "0_intro")
          .when(col("difficulty") <= col("qs").getItem(1), "1_easy")
          .when(col("difficulty") <= col("qs").getItem(2), "2_medium")
          .otherwise("3_hard"))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        round(min(col("difficulty")), 6).as("min_difficulty"),
        round(max(col("difficulty")), 6).as("max_difficulty"))
      .orderBy("stage")
  }

  // ---- wiring ----------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dsir_weights" -> dsirWeights,
    "curriculum_order" -> curriculumOrder,
    "epoch_shuffle" -> epochShuffle,
    "source_length_quartiles" -> sourceLengthQuartiles,
    "shard_assign" -> shardAssign,
    "shard_manifest" -> shardManifest,
    "mix_temperature" -> mixTemperature,
    "dataset_card" -> datasetCard,
    "doc_chunking" -> docChunking,
    "pack_chunks" -> packChunks,
    "pack_tokens" -> packTokens,
    "pack_efficiency_report" -> packEfficiencyReport,
    "pack_tokens_report" -> packTokensReport,
    "contamination_bloom" -> ((s, d) => contaminationBloom(s, d)),
    "token_budget_allocation" -> tokenBudgetAllocation,
    "sampling_weights" -> samplingWeights,
    "pipeline_clean" -> pipelineClean,
    "contamination_check" -> ((s, d) => contaminationCheck(s, d)),
    "contamination_apply" -> ((s, d) => contaminationApply(s, d)),
    "contamination_ngram8" -> ((s, d) => contaminationCheck(s, d, 8)),
    "train_test_split" -> trainTestSplit,
    "stratified_sample" -> stratifiedSample,
    "corpus_stats" -> corpusStats,
    "sample_k" -> sampleK,
    "sample_weighted" -> sampleWeighted,
    "interleave_sources" -> interleaveSources)

  private def hashPct(e: String): String =
    s"${OracleSql.roll(e, HashFns.P)} % 100"

  /** Shared by contamination_check and contamination_bloom: the bloom
    * pre-filter provably does not change results (no false negatives +
    * exact verification), so both gate against this one oracle.
    */
  /** [[contaminationSql]] at any shingle width — the `n`-gram knob's
    * oracle; width 3 keeps the byte-identical shared CTE so the
    * existing keys' SQL is unchanged.
    */
  private def contaminationSqlN(n: Int): String =
    s"""${OracleSql.shingleHashCteN(n)}, ex AS (
       |  SELECT doc_id, unnest(list_distinct(h)) AS hh FROM hs
       |), keep AS (
       |  SELECT hh FROM ex GROUP BY hh HAVING count(DISTINCT doc_id) <= $ContaminationDfCap
       |), lab AS (
       |  SELECT ex.doc_id, ex.hh,
       |    (${hashPct("ex.doc_id::VARCHAR")} < 90) AS is_train
       |  FROM ex JOIN keep USING (hh)
       |)
       |SELECT h.doc_id AS holdout_doc,
       |  CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_train_docs,
       |  CAST(count(DISTINCT h.hh) AS BIGINT) AS n_shared_shingles
       |FROM lab h JOIN lab t ON h.hh = t.hh AND NOT h.is_train AND t.is_train
       |GROUP BY h.doc_id ORDER BY holdout_doc""".stripMargin

  private val contaminationSql: String =
    s"""${OracleSql.ShingleHashCte}, ex AS (
       |  SELECT doc_id, unnest(list_distinct(h)) AS hh FROM hs
       |), keep AS (
       |  SELECT hh FROM ex GROUP BY hh HAVING count(DISTINCT doc_id) <= $ContaminationDfCap
       |), lab AS (
       |  SELECT ex.doc_id, ex.hh,
       |    (${hashPct("ex.doc_id::VARCHAR")} < 90) AS is_train
       |  FROM ex JOIN keep USING (hh)
       |)
       |SELECT h.doc_id AS holdout_doc,
       |  CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_train_docs,
       |  CAST(count(DISTINCT h.hh) AS BIGINT) AS n_shared_shingles
       |FROM lab h JOIN lab t ON h.hh = t.hh AND NOT h.is_train AND t.is_train
       |GROUP BY h.doc_id ORDER BY holdout_doc""".stripMargin

  private val contaminationApplySql: String =
    s"""${OracleSql.ShingleHashCte}, ex AS (
       |  SELECT doc_id, unnest(list_distinct(h)) AS hh FROM hs
       |), keep AS (
       |  SELECT hh FROM ex GROUP BY hh HAVING count(DISTINCT doc_id) <= $ContaminationDfCap
       |), lab AS (
       |  SELECT ex.doc_id, ex.hh,
       |    (${hashPct("ex.doc_id::VARCHAR")} < 90) AS is_train
       |  FROM ex JOIN keep USING (hh)
       |), fl AS (
       |  SELECT t.doc_id,
       |    CAST(count(DISTINCT t.hh) AS BIGINT) AS n_shared_shingles,
       |    CAST(count(DISTINCT h.doc_id) AS BIGINT) AS n_holdout_docs
       |  FROM lab t JOIN lab h ON t.hh = h.hh AND t.is_train AND NOT h.is_train
       |  GROUP BY t.doc_id
       |)
       |SELECT d.doc_id,
       |  coalesce(fl.n_shared_shingles, 0) AS n_shared_shingles,
       |  coalesce(fl.n_holdout_docs, 0) AS n_holdout_docs,
       |  coalesce(fl.n_shared_shingles, 0) < $ContaminationKeepBelow AS kept
       |FROM documents d LEFT JOIN fl USING (doc_id)
       |WHERE ${hashPct("d.doc_id::VARCHAR")} < 90
       |ORDER BY d.doc_id""".stripMargin

  private def packTokensSql: String =
    s"""${TextAnalysis.bpeEncCoreSql}, cum AS (
       |  SELECT doc_id, n_subwords AS n, token_ids AS ids,
       |    CAST(sum(n_subwords) OVER (ORDER BY doc_id) - n_subwords AS BIGINT) AS cb
       |  FROM enc WHERE n_subwords > 0
       |), ex AS (
       |  SELECT doc_id, n, cb, ids,
       |    unnest(range(cb // $PackTokensBudget, (cb + n - 1) // $PackTokensBudget + 1)) AS pack_id
       |  FROM cum
       |), seg AS (
       |  SELECT pack_id, doc_id,
       |    greatest(cb, pack_id * $PackTokensBudget) - cb AS lo,
       |    least(cb + n, (pack_id + 1) * $PackTokensBudget) - cb AS hi,
       |    string_split(ids, ' ') AS arr
       |  FROM ex
       |)
       |SELECT CAST(pack_id AS BIGINT) AS pack_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(hi - lo) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
       |  string_agg(array_to_string(arr[lo+1:hi], ' '), ' ' ORDER BY doc_id) AS token_ids
       |FROM seg GROUP BY pack_id ORDER BY pack_id""".stripMargin

  private val packChunksSql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0) AS tk
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n FROM toks WHERE len(tk) > 0
      |), r AS (
      |  SELECT doc_id, n,
      |    CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) - n AS cb
      |  FROM c
      |), ex AS (
      |  SELECT doc_id, n, cb,
      |    unnest(range(cb // 256, (cb + n - 1) // 256 + 1)) AS pack_id
      |  FROM r
      |)
      |SELECT CAST(pack_id AS BIGINT) AS pack_id,
      |  count(*) AS n_docs,
      |  CAST(sum(least(cb + n, (pack_id + 1) * 256) - greatest(cb, pack_id * 256)) AS BIGINT) AS n_tokens,
      |  min(doc_id) AS first_doc,
      |  max(doc_id) AS last_doc
      |FROM ex GROUP BY pack_id ORDER BY pack_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "dsir_weights" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source,
         |    list_filter(regexp_split_to_array(text, '\\s+'), t -> len(t) > 0) AS tk
         |  FROM documents
         |), bx AS (
         |  SELECT doc_id, source, ${OracleSql.roll("tok", HashFns.P)} % 64 AS bucket
         |  FROM (SELECT doc_id, source, unnest(tk) AS tok FROM toks)
         |), raw AS (
         |  SELECT bucket, CAST(count(*) AS BIGINT) AS rc FROM bx GROUP BY bucket
         |), tgt AS (
         |  SELECT bucket, CAST(count(*) AS BIGINT) AS tc FROM bx
         |  WHERE source = 'src0' GROUP BY bucket
         |), lm AS (
         |  SELECT raw.bucket, rc, coalesce(tc, 0) AS tc
         |  FROM raw LEFT JOIN tgt USING (bucket)
         |), tot AS (
         |  SELECT CAST(sum(rc) AS BIGINT) AS rt, CAST(sum(tc) AS BIGINT) AS tt FROM lm
         |), llr AS (
         |  SELECT bucket,
         |    ln((tc + 1)::DOUBLE / (tt + 64)::DOUBLE) -
         |    ln((rc + 1)::DOUBLE / (rt + 64)::DOUBLE) AS llr
         |  FROM lm, tot
         |), pd AS (
         |  SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS n
         |  FROM bx GROUP BY doc_id, bucket
         |), f AS (
         |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
         |    round(list_reduce(list_prepend(0.0::DOUBLE, list_transform(
         |      list_sort(list(struct_pack(bucket := bucket, v := n * llr))),
         |      x -> x['v'])), (a, x) -> a + x), 6) AS dsir_logweight
         |  FROM pd JOIN llr USING (bucket) GROUP BY doc_id
         |)
         |SELECT doc_id, n_tokens, dsir_logweight,
         |  CAST(CASE WHEN dsir_logweight > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM f ORDER BY doc_id""".stripMargin,
    "epoch_shuffle" ->
      s"""WITH e AS (
         |  SELECT unnest(range(3)) AS epoch
         |), k AS (
         |  SELECT epoch, doc_id,
         |    ('0x' || substr(md5('ep:' || epoch::VARCHAR || ':' || doc_id::VARCHAR),
         |      1, 15))::BIGINT AS h
         |  FROM documents, e
         |)
         |SELECT epoch,
         |  row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS pos,
         |  doc_id
         |FROM k ORDER BY epoch, pos""".stripMargin,
    "curriculum_order" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0)) AS BIGINT) AS n_tokens,
        |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS ntc
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, n_tokens, ntc::DOUBLE / n_tokens::DOUBLE AS difficulty
        |  FROM c WHERE n_tokens > 0
        |), q AS (
        |  SELECT quantile_cont(difficulty, 0.25) AS q25,
        |    quantile_cont(difficulty, 0.50) AS q50,
        |    quantile_cont(difficulty, 0.75) AS q75
        |  FROM d
        |)
        |SELECT CASE WHEN difficulty <= q25 THEN '0_intro'
        |  WHEN difficulty <= q50 THEN '1_easy'
        |  WHEN difficulty <= q75 THEN '2_medium'
        |  ELSE '3_hard' END AS stage,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  round(min(difficulty), 6) AS min_difficulty,
        |  round(max(difficulty), 6) AS max_difficulty
        |FROM d, q GROUP BY stage ORDER BY stage""".stripMargin,
    "dataset_card" ->
      s"""WITH b AS (
         |  SELECT count(*) AS n_docs,
         |    count(DISTINCT source) AS n_sources,
         |    count(DISTINCT lang) AS n_langs,
         |    count(DISTINCT md5(text)) AS n_unique
         |  FROM documents
         |), t AS (
         |  SELECT CAST(sum(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |    x -> len(x) > 0))) AS BIGINT) AS n_tokens
         |  FROM documents
         |), q AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
         |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS ntc,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x IN ${TextAnalysis.inList(TextFns.Stopwords)})) AS BIGINT) AS ns,
         |    CAST(len(list_distinct(list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0))) AS BIGINT) AS nd
         |  FROM documents
         |), k AS (
         |  SELECT CAST(sum(
         |    (CASE WHEN n_tokens BETWEEN 20 AND 80 THEN 1 ELSE 0 END) *
         |    (CASE WHEN ntc::DOUBLE / greatest(n_tokens, 1) BETWEEN 2.0 AND 8.0 THEN 1 ELSE 0 END) *
         |    (CASE WHEN ns::DOUBLE / greatest(n_tokens, 1) >= 0.05 THEN 1 ELSE 0 END) *
         |    (CASE WHEN nd::DOUBLE / greatest(n_tokens, 1) >= 0.3 THEN 1 ELSE 0 END)) AS BIGINT) AS n_keep
         |  FROM q
         |)
         |SELECT b.n_docs, t.n_tokens, b.n_sources, b.n_langs,
         |  round(t.n_tokens::DOUBLE / b.n_docs::DOUBLE, 4) AS avg_doc_tokens,
         |  round(1.0 - b.n_unique::DOUBLE / b.n_docs::DOUBLE, 6) AS exact_dup_rate,
         |  round(k.n_keep::DOUBLE / b.n_docs::DOUBLE, 6) AS quality_keep_rate
         |FROM b, t, k""".stripMargin,
    "doc_chunking" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents
        |), st AS (
        |  SELECT doc_id, tk,
        |    unnest(range(0, len(tk), 24)) AS s,
        |    unnest(range(len(range(0, len(tk), 24)))) AS chunk_id
        |  FROM toks WHERE len(tk) > 0
        |)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(len(tk[s+1:s+32]) AS BIGINT) AS n_tokens,
        |  array_to_string(tk[s+1:s+32], ' ') AS chunk_text
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin,
    "source_length_quartiles" ->
      """SELECT source, count(*) AS n_docs,
        |  round(quantile_cont(n_chars, 0.25), 6) AS q25,
        |  round(quantile_cont(n_chars, 0.50), 6) AS q50,
        |  round(quantile_cont(n_chars, 0.75), 6) AS q75
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "shard_manifest" ->
      """WITH c AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0)) AS BIGINT) AS n
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, source, n,
        |    CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) - n AS cb
        |  FROM c WHERE n > 0
        |), s AS (
        |  SELECT CAST(cb // 4096 AS BIGINT) AS shard, doc_id, source, n FROM r
        |), base AS (
        |  SELECT shard, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
        |    md5(array_to_string(list_sort(list(doc_id)), ',')) AS members_md5
        |  FROM s GROUP BY shard
        |), ts AS (
        |  SELECT shard, source AS top_source, sn AS top_source_docs FROM (
        |    SELECT shard, source, count(*) AS sn,
        |      row_number() OVER (PARTITION BY shard
        |        ORDER BY count(*) DESC, source) AS rn
        |    FROM s GROUP BY shard, source) WHERE rn = 1
        |)
        |SELECT base.shard, n_docs, n_tokens, top_source, top_source_docs,
        |  CAST((top_source_docs * 1000000) // n_docs AS DOUBLE) / 1e6
        |    AS top_source_share,
        |  members_md5
        |FROM base JOIN ts USING (shard) ORDER BY shard""".stripMargin,
    "shard_assign" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0)) AS BIGINT) AS n
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, n,
        |    CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) - n AS cb
        |  FROM c WHERE n > 0
        |)
        |SELECT CAST(cb // 4096 AS BIGINT) AS shard,
        |  count(*) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_doc,
        |  max(doc_id) AS last_doc
        |FROM r GROUP BY shard ORDER BY shard""".stripMargin,
    "mix_temperature" ->
      """WITH s AS (
        |  SELECT source,
        |    CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source
        |), w AS (
        |  SELECT source, n_tokens, sqrt(n_tokens::DOUBLE) AS w FROM s
        |), t AS (
        |  SELECT
        |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(
        |      list_sort(list(struct_pack(source := source, w := w))), x -> x['w'])),
        |      (a, b) -> a + b) AS wtot,
        |    sum(n_tokens)::DOUBLE AS ttot
        |  FROM w
        |)
        |SELECT source, n_tokens,
        |  round(n_tokens::DOUBLE / t.ttot, 6) AS raw_share,
        |  round(w / t.wtot, 6) AS temp_share,
        |  round((w / t.wtot) * 1000000.0 / n_tokens::DOUBLE, 6) AS epochs_at_1m
        |FROM w, t ORDER BY source""".stripMargin,
    "pack_chunks" -> packChunksSql,
    "pack_tokens" -> packTokensSql,
    "pack_efficiency_report" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_packs,
         |  CAST(sum(CASE WHEN n_tokens = 256 THEN 1 ELSE 0 END) AS BIGINT) AS full_packs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(min(n_tokens) AS BIGINT) AS min_fill,
         |  round(sum(n_tokens)::DOUBLE / (count(*) * 256)::DOUBLE, 6) AS fill_rate
         |FROM ($packChunksSql) p""".stripMargin,
    "pack_tokens_report" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_packs,
         |  CAST(sum(CASE WHEN n_tokens = $PackTokensBudget THEN 1 ELSE 0 END) AS BIGINT) AS full_packs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(min(n_tokens) AS BIGINT) AS min_fill,
         |  round(sum(n_tokens)::DOUBLE / (count(*) * $PackTokensBudget)::DOUBLE, 6) AS fill_rate
         |FROM ($packTokensSql) p""".stripMargin,
    "contamination_bloom" -> contaminationSql,
    "contamination_ngram8" -> contaminationSqlN(8),
    "token_budget_allocation" ->
      """WITH s AS (
        |  SELECT source,
        |    CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source
        |), t AS (
        |  SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM s
        |), q AS (
        |  SELECT source, n_tokens,
        |    (1000000 * n_tokens) // t.total AS quota,
        |    1000000 * n_tokens - ((1000000 * n_tokens) // t.total) * t.total AS rem
        |  FROM s, t
        |), r AS (
        |  SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk,
        |    sum(quota) OVER () AS qsum
        |  FROM q
        |)
        |SELECT source, n_tokens,
        |  CAST(quota + CASE WHEN rk <= 1000000 - qsum THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens,
        |  round((quota + CASE WHEN rk <= 1000000 - qsum THEN 1 ELSE 0 END)::DOUBLE / 1000000.0, 6) AS alloc_share
        |FROM r ORDER BY source""".stripMargin,
    "sampling_weights" ->
      """WITH s AS (
        |  SELECT source,
        |    CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source
        |), t AS (
        |  SELECT sum(n_tokens)::DOUBLE AS total, count(*)::DOUBLE AS nsrc FROM s
        |)
        |SELECT source, n_tokens,
        |  round(1.0 / t.nsrc, 6) AS target_share,
        |  round(n_tokens / t.total, 6) AS actual_share,
        |  round(least(1.0, (t.total / t.nsrc) / n_tokens), 6) AS sample_rate
        |FROM s, t ORDER BY source""".stripMargin,
    "pipeline_clean" ->
      s"""WITH RECURSIVE q0 AS (
         |  SELECT *,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> len(t) > 0)) AS BIGINT) AS n_tokens,
         |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS ntc,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t IN ${TextAnalysis.inList(TextFns.Stopwords)})) AS BIGINT) AS ns,
         |    CAST(len(list_distinct(list_filter(regexp_split_to_array(text, '\\s+'), t -> len(t) > 0))) AS BIGINT) AS ndt
         |  FROM documents
         |), q AS (
         |  SELECT doc_id, text, lang, source, n_chars FROM q0
         |  WHERE n_tokens BETWEEN 20 AND 80
         |    AND ntc::DOUBLE / greatest(n_tokens, 1) BETWEEN 2.0 AND 8.0
         |    AND ns::DOUBLE / greatest(n_tokens, 1) >= 0.05
         |    AND ndt::DOUBLE / greatest(n_tokens, 1) >= 0.3
         |), e AS (
         |  SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)
         |), ed AS (
         |  SELECT q.* FROM q JOIN e USING (doc_id)
         |), ${Dedup.simhashBody("ed")}, prs AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |), sym AS (
         |  SELECT da AS a, db AS b FROM prs UNION ALL SELECT db, da FROM prs
         |), reach AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
         |), dropd AS (
         |  SELECT a AS doc_id FROM reach GROUP BY a HAVING least(a, min(b)) != a
         |), nd2 AS (
         |  SELECT ed.* FROM ed LEFT JOIN dropd USING (doc_id)
         |  WHERE dropd.doc_id IS NULL
         |), tr AS (
         |  SELECT * FROM nd2 WHERE ${hashPct("doc_id::VARCHAR")} < 90
         |)
         |SELECT * FROM (
         |  SELECT '0_raw' AS stage, count(*) AS n_docs FROM documents
         |  UNION ALL SELECT '1_quality', count(*) FROM q
         |  UNION ALL SELECT '2_exact_dedup', count(*) FROM ed
         |  UNION ALL SELECT '3_near_dedup', count(*) FROM nd2
         |  UNION ALL SELECT '4_train', count(*) FROM tr
         |) ORDER BY stage""".stripMargin,
    "contamination_check" -> contaminationSql,
    "contamination_apply" -> contaminationApplySql,
    "train_test_split" ->
      s"""SELECT doc_id,
         |  CASE WHEN ${hashPct("doc_id::VARCHAR")} < 90 THEN 'train' ELSE 'holdout' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,
    "stratified_sample" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${hashPct("doc_id::VARCHAR")} < 25 ORDER BY doc_id""".stripMargin,
    "corpus_stats" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0))) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin,
    "sample_k" ->
      """SELECT doc_id, md5('sample:' || doc_id::VARCHAR) AS h
        |FROM documents ORDER BY h LIMIT 100""".stripMargin,
    "sample_weighted" ->
      s"""WITH c AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> len(t) > 0)) AS BIGINT) AS n_tokens
         |  FROM documents
         |), k AS (
         |  SELECT doc_id, n_tokens,
         |    round(ln((${OracleSql.roll("'wsample:' || doc_id::VARCHAR", HashFns.P)} % 1000000 + 0.5) / 1000000.0)
         |      / n_tokens::DOUBLE, 6) AS es_key
         |  FROM c WHERE n_tokens > 0
         |)
         |SELECT doc_id, n_tokens, es_key FROM k
         |ORDER BY es_key DESC, doc_id LIMIT 100""".stripMargin,
    "interleave_sources" ->
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY ${OracleSql.roll("doc_id::VARCHAR", HashFns.P)}, doc_id) AS BIGINT) AS rnd
         |  FROM documents
         |)
         |SELECT doc_id, source, rnd FROM r WHERE rnd <= 5
         |ORDER BY rnd, source, doc_id""".stripMargin)
}

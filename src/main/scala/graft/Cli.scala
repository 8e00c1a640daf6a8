package graft

import graft.operators.{Index, Query}
import graft.sources.{Csv, IndexStore, Jsonl, Tsv}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's command-line surface, Spark-native. The reference
  * runs as `ToolRunner` with (input-path, output-path, num-reducers)
  * (/root/reference/src/main/scala/test/App.scala: the CLI wraps the
  * index job; the commented-out partitioner hashes on word = our term
  * buckets). A user of the reference drives the same three actions
  * here:
  *
  *   - `index <input.tsv> <indexPath> [nBuckets]` — build the
  *     positional index from `title \t body` lines and save it
  *     term-bucketed (nBuckets plays the reference's num-reducers
  *     role: it fixes the index's partition fan-out).
  *   - `search <indexPath> <term> [k] [nBuckets]` — term lookup
  *     against the SAVED index, tf-ranked; planning-time bucket pruning
  *     means one partition is read, not the index.
  *   - `query <input.tsv|indexPath> '<boolean query>' [k]` — parsed
  *     boolean/phrase retrieval (AND/OR/NOT/"...") with BM25 ranking.
  *     Given a corpus file it ranks off the corpus; given a SAVED
  *     index directory it dispatches to the index-served ranked path
  *     (bucket-pruned leaf fetch + the `_docs` manifests' document
  *     lengths — no corpus scan per query).
  *   - `bquery <indexPath> '<boolean query>' [nBuckets]` — the same
  *     grammar against the SAVED index (bucket-pruned leaf reads:
  *     index once, query many times). An omitted `nBuckets`, here
  *     and in `search`, is the count the index was saved with
  *     ([[IndexStore.buckets]]).
  *   - `stats <indexPath>` — per-bucket balance of the SAVED index
  *     (terms/postings per term bucket: the observable form of the
  *     reference's num-reducers knob, for picking nBuckets).
  *   - `takedown <indexPath> <id,id,...> [compact]` — tombstone the
  *     listed doc_ids (deletion live at the next query without
  *     touching the layout); `compact` folds tombstones into the
  *     index for real. The one-shot form of
  *     [[graft.streaming.Stream.takedownMaintenance]].
  */
object Cli {

  /** Input-corpus dispatch by extension: the reference's `title \t
    * body` TSV stays the default; `.jsonl` and `.csv` corpora read
    * through their quarantine readers and are doc_id-keyed.
    */
  private def readCorpus(spark: SparkSession, input: String): (DataFrame, String) =
    if (input.endsWith(".jsonl")) (Jsonl.readDocuments(spark, input), "doc_id")
    else if (input.endsWith(".csv")) (Csv.readDocuments(spark, input), "doc_id")
    else (Tsv.readDocuments(spark, input), "title")

  /** Dispatch + result frame (separated from [[main]] so specs can
    * assert on the returned rows).
    */
  def run(spark: SparkSession, args: Seq[String]): DataFrame = args match {
    case Seq("index", input, out, rest @ _*) =>
      val nBuckets = rest.headOption.map(_.toInt).getOrElse(IndexStore.DefaultBuckets)
      val (corpus, id) = readCorpus(spark, input)
      val idx = Index.invertedIndexOf(corpus, id = id)
      IndexStore.save(idx, out, nBuckets)
      // fielded-search metadata rides the build when the corpus has
      // field columns (jsonl/csv carry lang/source): `query`/`bquery`
      // against this index then serve lang:/source: leaves index-side
      val fields = corpus.columns.filter(c => c == "lang" || c == "source").toSeq
      if (fields.nonEmpty)
        IndexStore.saveMeta(corpus.select(id, fields: _*), out)
      // ...and the SymSpell fuzzy dictionary, so `term~d` queries
      // against this index probe candidates instead of scanning the
      // term dictionary (one extra dictionary pass at build time)
      IndexStore.saveFuzzy(spark, out)
      IndexStore.load(spark, out)
        .groupBy().agg(count(lit(1)).as("postings"),
          countDistinct(col("term")).as("terms"))
    case Seq("search", indexPath, term, rest @ _*) =>
      val k = rest.headOption.map(_.toInt).getOrElse(10)
      // must match the nBuckets the index was saved with (exactly as
      // the reference's reducer count shaped its output layout)
      val nBuckets = rest.lift(1).map(_.toInt)
        .getOrElse(IndexStore.buckets(spark, indexPath).getOrElse(IndexStore.DefaultBuckets))
      val hits = IndexStore.lookup(spark, indexPath, term, nBuckets)
      // id column follows the indexed corpus: title (tsv) or doc_id
      val idCol = Seq("title", "doc_id").find(hits.columns.contains).get
      hits.orderBy(col("tf").desc, col(idCol))
        .limit(k)
    case Seq("query", input, q, rest @ _*) =>
      val k = rest.headOption.map(_.toInt).getOrElse(10)
      if (IndexStore.isIndex(spark, input)) {
        // a saved index serves ranked queries without touching any
        // corpus: bucket-pruned leaf fetch + the document lengths its
        // `_docs` manifests carry
        Query.searchRankedIndex(spark, input, q, k,
          IndexStore.buckets(spark, input).getOrElse(IndexStore.DefaultBuckets))
      } else {
        val (corpus, id) = readCorpus(spark, input)
        Query.searchRanked(corpus, q, k, id = id)
      }
    case Seq("bquery", indexPath, q, rest @ _*) =>
      // boolean/phrase/prefix retrieval against the SAVED index: only
      // the query terms' buckets are read (Query.searchIndex)
      val nBuckets = rest.headOption.map(_.toInt)
        .getOrElse(IndexStore.buckets(spark, indexPath).getOrElse(IndexStore.DefaultBuckets))
      val hits = Query.searchIndex(spark, indexPath, q, nBuckets)
      hits.orderBy(hits.columns.head)
    case Seq("stats", indexPath) =>
      IndexStore.load(spark, indexPath)
        .groupBy(col("term_bucket"))
        .agg(countDistinct(col("term")).as("terms"),
          count(lit(1)).as("postings"))
        .orderBy("term_bucket")
    case Seq("takedown", indexPath, ids, rest @ _*) =>
      // operational deletes against the SAVED index: tombstone the
      // listed doc_ids (O(|ids|) write, takedown live at the next
      // query), then fold them for real when asked — the one-shot
      // form of the continuous `Stream.takedownMaintenance` loop.
      // Tombstones anti-join on doc_id, so a title-keyed (TSV) index
      // must fail LOUDLY here instead of silently ignoring the delete
      // a trailing arg other than the literal `compact` (a typo like
      // `comapct`) must not be silently ignored: the tombstone would
      // land but no fold would run, and the operator would believe the
      // postings left disk
      require(rest.isEmpty || rest == Seq("compact"),
        s"takedown accepts only an optional trailing 'compact', got: " +
          s"${rest.mkString(" ")} — usage: takedown <indexPath> <id,id,...> [compact]")
      require(IndexStore.load(spark, indexPath).columns.contains("doc_id"),
        s"takedown needs a doc_id-keyed index; the one at $indexPath " +
          "is title-keyed — rebuild from a doc_id corpus (jsonl/csv)")
      IndexStore.delete(spark, indexPath, ids.split(',').map(_.trim.toLong))
      if (rest.headOption.contains("compact"))
        IndexStore.compactSegments(spark, indexPath)
      IndexStore.load(spark, indexPath)
        .groupBy().agg(countDistinct(col("doc_id")).as("docs_left"),
          count(lit(1)).as("postings"))
    case Seq("clean", input, out) =>
      // quality rules → exact dedup → near-dup removal over any corpus
      // format; survivors land as parquet at `out`, the funnel counts
      // print (the dataset-card numbers)
      val (corpus, id) = readCorpus(spark, input)
      // 64-bit key: a mod-1e9 hash would birthday-collide at ~3e4
      // titles and silently merge distinct docs through the funnel
      val keyed =
        if (corpus.columns.contains("doc_id")) corpus
        else corpus.withColumn("doc_id", xxhash64(col(id)))
      val (cleaned, stages) = operators.Pipeline.cleanOf(keyed)
      cleaned.write.mode("overwrite").parquet(out)
      stages.reduce(_ unionByName _).orderBy("stage")
    case Seq("export", input, out, rest @ _*) =>
      // interchange export: any readable corpus (tsv/jsonl/csv or a
      // parquet dir) out as JSONL shards — the hand-off format for a
      // downstream training loader. [shards] fixes the file fan-out.
      val shards = rest.headOption.map(_.toInt).getOrElse(0)
      val corpus =
        if (input.endsWith(".tsv") || input.endsWith(".jsonl") ||
            input.endsWith(".csv")) readCorpus(spark, input)._1
        else spark.read.parquet(input)
      Jsonl.writeDocuments(corpus, out, shards)
      val back = spark.read.text(out)
      back.groupBy().agg(count(lit(1)).as("lines"))
    case _ =>
      throw new IllegalArgumentException(
        "usage: index <in.tsv> <indexPath> [nBuckets] | " +
          "search <indexPath> <term> [k] [nBuckets] | query <in.tsv> '<query>' [k] | " +
          "bquery <indexPath> '<query>' [nBuckets] | stats <indexPath> | " +
          "takedown <indexPath> <id,id,...> [compact] | " +
          "clean <in.(tsv|jsonl|csv)> <outPath> | " +
          "export <in.(tsv|jsonl|csv)|parquetDir> <outPath> [shards]")
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toSeq).show(100, truncate = false)
    finally spark.stop()
  }
}

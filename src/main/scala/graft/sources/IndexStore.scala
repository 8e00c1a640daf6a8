package graft.sources

import graft.functions.{HashFns, HashImpl, PostingsFns}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Term-partitioned persistence for the positional inverted index —
  * the Spark-native form of the reference's hash-on-word partitioner
  * (/root/reference/src/main/scala/test/App.scala:185-190): all
  * postings of a term land in one bucket, so a term lookup touches
  * exactly one partition directory.
  *
  * The bucket key is the engine's own rolling hash mod `nBuckets`,
  * computable both as a Catalyst column (write side) and driver-side
  * (read side), so lookups prune partitions BEFORE the scan — at
  * 100 TB a query reads 1/nBuckets of the index, not all of it, and
  * the non-bucket predicate still pushes into parquet row groups.
  */
object IndexStore {
  val DefaultBuckets = 64

  /** Marker file persisting the SAVE-TIME bucket count inside the
    * index directory (underscore prefix: invisible to parquet data
    * listings). It travels with the directory through the streaming
    * stores' rename swaps, so a reader can always validate its bucket
    * count against the layout's actual one.
    */
  private val BucketsMarker = "_nbuckets"

  /** Bucket of a term — same value in plan-space and driver-space. */
  def bucketOf(term: String, nBuckets: Int): Long =
    HashImpl.roll(UTF8String.fromString(term), HashFns.P) % nBuckets

  /** Write `index` (term, ... columns) partitioned by term bucket.
    *
    * Rows are term-sorted WITHIN each bucket before the write — the
    * Spark form of the reference's TextPair secondary sort
    * (App.scala's compareTo orders (word, title) inside a reducer):
    * parquet then stores tight term min/max per row group, so a term
    * lookup inside the one surviving bucket skips every row group the
    * term can't be in. At 100 TB this is the difference between
    * scanning a bucket and scanning a few row groups of it.
    *
    * A `positions` column is stored DELTA-GAP ENCODED (`gaps` =
    * (first, gap, gap, ...) — the codec whose bit cost
    * `Index.postingsCompress` prices): gaps are small and repetitive,
    * so parquet's dictionary/RLE layer compresses them far tighter
    * than raw absolute positions. [[load]] decodes transparently —
    * every reader sees `positions` again and [[lookup]]/[[merge]]
    * results are unchanged. The codec is a codegen'd kernel pair
    * ([[graft.functions.PostingsFns]]), so the whole-corpus write
    * path stays inside whole-stage codegen.
    *
    * Every layout written here carries its `_docs` manifest (see
    * [[DocsManifest]]): plain roots, [[merge]] outputs, segments and
    * fold outputs alike.
    */
  def save(index: DataFrame, path: String, nBuckets: Int = DefaultBuckets): Unit = {
    val encoded =
      if (index.columns.contains("positions"))
        index.withColumn("gaps", PostingsFns.deltaEncode(col("positions")))
          .drop("positions")
      else index
    encoded
      .withColumn("term_bucket", HashFns.rollingHash(col("term")) % nBuckets)
      // term_bucket leads the sort: the dynamic-partition writer
      // requires ordering by the partition column and would otherwise
      // stack a second bucket-only sort on top, leaving term clustering
      // to sort stability (an implementation detail, not a contract)
      .repartition(col("term_bucket"))
      .sortWithinPartitions("term_bucket", "term")
      .write.mode("overwrite")
      .partitionBy("term_bucket")
      .parquet(path)
    val spark = index.sparkSession
    writeDocs(spark, path, s"$path/$DocsManifest")
    // persist the layout's bucket count AFTER the (overwriting) data
    // write, so lookups validate against the truth, not a stale marker
    writeBuckets(spark, path, nBuckets)
  }

  /** Per-layout manifest: one `(id, dl)` row per document the layout
    * (re)wrote — underscore-prefixed, so parquet data listings skip it.
    * `id` is `doc_id`, or `title` for a title-keyed index. `dl` is the
    * document's length, the sum of its postings' `tf`; on a fielded
    * index only the body field counts (ranking scores body tf, and
    * title rows would overcount every titled doc), and a doc with no
    * body postings has a null dl. The ids are the layout's versions
    * for the dead-key resolution ([[SegmentedStore.Snapshot.deadKeys]]); the
    * lengths are BM25's dl, n and avgdl ([[OpenIndex.dl]]), kept with
    * the postings that name the document like Lucene's per-segment
    * norms.
    */
  private val DocsManifest = "_docs"

  /** Write the manifest of the layout at `dir` into `dest` from a
    * column-pruned scan of the layout's own files, not from a second
    * run of the plan that produced them (for a landing that plan is
    * the whole invert). A layout with no data file gets no manifest
    * ([[SegmentedStore.land]] then drops it as empty), and so does one
    * with no id column.
    */
  private def writeDocs(spark: SparkSession, dir: String, dest: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (SegmentedStore.hasDataFiles(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)) {
      val layout = ParquetFooters.read(spark, Seq(dir))
      Seq("doc_id", "title").find(layout.columns.contains).foreach { id =>
        val tf = if (layout.columns.contains("field")) when(col("field") === "body", col("tf"))
                 else col("tf")
        layout.groupBy(col(id)).agg(sum(tf).cast("double").as("dl"))
          .coalesce(1).write.mode("overwrite").parquet(dest)
      }
    }
  }

  /** Whether the manifest at `docs` exists and carries `dl` (one
    * footer read, no job).
    */
  private def hasDl(spark: SparkSession, docs: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(docs)
    SegmentedStore.hasDataFiles(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p) &&
      ParquetFooters.read(spark, Seq(docs)).columns.contains("dl")
  }

  private def writeBuckets(spark: SparkSession, path: String, nBuckets: Int): Unit = {
    val marker = new org.apache.hadoop.fs.Path(path, BucketsMarker)
    val out = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(marker, true)
    try out.write(nBuckets.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The bucket count the index at `path` was saved with, from the
    * [[BucketsMarker]] file: callers that only hold an index path (Cli
    * dispatch, serving setup) read the layout's own truth instead of
    * guessing [[DefaultBuckets]]. None for a pre-marker index.
    */
  def buckets(spark: SparkSession, path: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(path, BucketsMarker)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim.toInt)
      finally in.close()
    }
  }

  /** Whether `path` holds a saved index layout (plain or segmented) —
    * the dispatch test `Cli query` uses to route a query string to the
    * index-served ranked path instead of re-reading a corpus. One
    * driver-side listing, no job.
    */
  def isIndex(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.isDirectory(p) && {
      val names = fs.listStatus(p).map(_.getPath.getName)
      names.contains(BucketsMarker) || names.exists(_.startsWith("term_bucket=")) ||
        SegmentedStore.listing(spark, path).segs.nonEmpty
    }
  }

  // ---- tombstone deletes (shared discipline: [[Tombstones]]) -----------
  //
  // The full batch-keyed contract — O(|ids|) landings, the applied-
  // horizon guard against fresh-checkpoint un-deletes, empty-tree
  // tolerance — lives in [[Tombstones]] (r14: the SAME discipline now
  // covers CorpusStore and the streaming embed store, because a
  // takedown must purge a document everywhere its content lives).
  // These wrappers keep the index store's public surface.

  /** Mark documents DELETED without rewriting the index — the one-shot
    * operational form ([[Tombstones.append]]). Readers ([[load]],
    * [[merge]], and every query through an [[OpenIndex]] opened after
    * the call — the per-query calls open one each) anti-join the set
    * out; [[compactSegments]] folds it into a clean rewrite.
    */
  def delete(spark: SparkSession, path: String, docIds: Seq[Long]): Unit =
    Tombstones.append(spark, path, docIds)

  /** The tombstone set's applied horizon ([[Tombstones.horizon]]). */
  def takedownHorizon(spark: SparkSession, path: String): Long =
    Tombstones.horizon(spark, path)

  /** Batch-keyed [[delete]] for the streaming takedown loop
    * ([[graft.streaming.Stream.takedownMaintenance]]) — exactly-once
    * at batch granularity, loud below the applied horizon
    * ([[Tombstones.landBatch]]). Returns whether a landing happened.
    */
  def deleteBatch(ids: DataFrame, path: String, srcBatch: Long): Boolean =
    Tombstones.landBatch(ids, path, srcBatch)

  /** How many batch-keyed tombstone landings the index carries — the
    * takedown loop's fold trigger ([[Tombstones.batchCount]]).
    */
  def tombstoneBatchCount(spark: SparkSession, path: String): Int =
    Tombstones.batchCount(spark, path)

  /** Rewrite the `_meta` table of the index at `fromPath` into
    * `toPath`, semi-joined to the docs surviving at `survivorsPath` —
    * the compaction leg that purges a takedown'd doc's METADATA from
    * disk in the same fold that purges its postings. One column-pruned
    * doc-id scan of the fold output + a doc-count-sized rewrite.
    */
  private def carryMeta(spark: SparkSession, fromPath: String,
                        toPath: String, survivorsPath: String): Unit = {
    val meta = ParquetFooters.read(spark,
      Seq(new org.apache.hadoop.fs.Path(fromPath, MetaDir).toString))
    val id = Seq("doc_id", "title").find(meta.columns.contains).getOrElse(
      throw new IllegalStateException(
        s"_meta at $fromPath has neither a doc_id nor a title column"))
    val survivors = ParquetFooters.read(spark, Seq(survivorsPath))
      .select(col(id)).distinct()
    saveMeta(meta.join(survivors, Seq(id), "left_semi"), toPath)
  }

  // ---- staleness probes (r15) ------------------------------------------
  //
  // Serving loops hold pinned snapshots ([[OpenIndex]]) while
  // maintenance loops land segments and takedowns behind them. These
  // probes make "did the store move?" a jobless driver-side question —
  // a few directory listings — so a refresh loop can notice a landing
  // and re-open instead of either polling with jobs or serving stale
  // state blindly.

  /** A listing-derived fingerprint of the store at `path`, the
    * serving-snapshot key [[open]] captures: the top-level visible
    * entries (segment dirs, bucket dirs, data files — sufficient
    * because segments land and fold by atomic RENAME, never in-place
    * edits), the tombstone tree's file names and the `_meta`/`_fuzzy`
    * side tables' file names. Flips on every segment landing, takedown
    * landing/replay, compaction swap and side-table refresh.
    */
  def fingerprint(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return "absent"
    val top = fs.listStatus(p).map(_.getPath.getName)
      .filter(n => !n.startsWith(".") && !n.startsWith("_")).sorted
    val side = Seq(MetaDir, FuzzyDir).map { d =>
      val sp = new org.apache.hadoop.fs.Path(p, d)
      if (!fs.exists(sp)) ""
      else {
        val names = scala.collection.mutable.ArrayBuffer[String]()
        val it = fs.listFiles(sp, true)
        while (it.hasNext) names += it.next().getPath.getName
        names.sorted.mkString(",")
      }
    }
    top.mkString(",") + "|" + Tombstones.treeFingerprint(spark, path) + "||" + side.mkString("|")
  }

  /** Whether the store moved since `oi` was opened — segments,
    * takedowns, folds, or side-table refreshes landed after [[open]]
    * make the pinned snapshot stale. Jobless (listings only); a
    * serving loop calls this between requests and [[reopenIfStale]]s
    * on true.
    */
  def stale(oi: OpenIndex): Boolean =
    fingerprint(oi.spark, oi.path) != oi.fp

  /** Re-open the handle iff the store moved ([[stale]]); the common
    * serving-loop refresh idiom. The returned handle serves the new
    * state (landed segments visible, takedowns anti-joined, refreshed
    * side tables picked up); the replaced handle's held rows are
    * released ([[OpenIndex.release]]).
    */
  def reopenIfStale(oi: OpenIndex): OpenIndex =
    if (!stale(oi)) oi
    else { oi.release(); open(oi.spark, oi.path, oi.nBuckets) }

  /** Give every layout of the index at `path` a `_docs` manifest that
    * carries `dl` ([[DocsManifest]]) — the upgrade for a store written
    * before manifests held document lengths: segments whose `_docs`
    * holds ids only, or a plain root with no `_docs` at all. Ranked
    * serving refuses such a store and names this call. Each such
    * layout's manifest is rebuilt from a column-pruned scan of its own
    * files and swapped in over the old one ([[StoreSwap.publish]]),
    * newest segment first: a crash part-way leaves the oldest segment
    * (whose footer fixes the manifests' read schema) unconverted, so
    * the store is still refused, never half-served. On a store this
    * version wrote every manifest already carries `dl`, and the call
    * is listings and footer reads only — no job. A handle opened
    * before the upgrade keeps its old manifests: [[open]] a new one.
    */
  def saveStats(spark: SparkSession, path: String): Unit = {
    val l = SegmentedStore.listing(spark, path)
    val layouts = if (l.segs.isEmpty) Seq(path) else l.segs.reverse.map(SegmentedStore.dir(path, _))
    layouts.filterNot(dir => hasDl(spark, s"$dir/$DocsManifest")).foreach { dir =>
      val dest = new org.apache.hadoop.fs.Path(dir, DocsManifest)
      StoreSwap.publish(dest.getFileSystem(spark.sparkContext.hadoopConfiguration), dest)(
        writeDocs(spark, dir, _))
    }
  }

  // ---- fielded-search metadata (_meta side table) -----------------------
  //
  // `lang:` / `source:` query leaves filter DOCUMENT METADATA, which
  // the postings layout doesn't carry (a posting row is (term, doc,
  // tf, positions) — replicating lang/source onto every posting would
  // multiply the index by the metadata width). The side table is
  // doc-count-sized like a `_docs` manifest, underscore-prefixed so
  // parquet data listings skip it, and lands crash-safe (tmp dir +
  // two-rename swap). A fielded leaf then evaluates index-side as one
  // column-pruned doc-keyed scan of `_meta`, intersected with the
  // bucket-pruned term leaves — no corpus anywhere.
  //
  // Deletion hygiene: readers anti-join the live tombstone set (a
  // takedown'd doc must not resurface through a pure `lang:en` leaf
  // or an OR branch), and compaction REWRITES the table semi-joined to
  // the surviving doc set — a GDPR takedown purges the doc's metadata
  // from disk in the same fold that purges its postings.

  /** Underscore-prefixed metadata directory inside an index. */
  private val MetaDir = "_meta"

  /** Land side table `name` (`_meta`, `_fuzzy`) of the index at `path`
    * through [[StoreSwap.publish]], so a copy is always on disk. A
    * reader planned between the swap's two renames sees no table: a
    * fielded query fails loudly (`Query.matchesOf`'s require) and a
    * fuzzy leaf falls back to the levenshtein dictionary scan. The next
    * landing of the table, or [[compactSegments]], restores the backup.
    */
  private def publishSide(spark: SparkSession, path: String, name: String)
                         (write: String => Unit): Unit = {
    val dest = new org.apache.hadoop.fs.Path(path, name)
    StoreSwap.publish(dest.getFileSystem(spark.sparkContext.hadoopConfiguration), dest)(write)
  }

  /** Whether the index at `path` carries a persisted metadata table. */
  def hasMeta(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path, MetaDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Persist the fielded-search metadata side table: one row per doc
    * (id column `doc_id` or `title`, matching the indexed corpus) with
    * the field columns the query grammar exposes (`lang`, `source`, …
    * — any column a [[graft.operators.Query.Field]] leaf names).
    * Doc-count-sized; landed crash-safe ([[publishSide]]).
    */
  def saveMeta(meta: DataFrame, path: String): Unit = {
    val spark = meta.sparkSession
    val id = Seq("doc_id", "title").find(meta.columns.contains).getOrElse(
      throw new IllegalArgumentException(
        "metadata frame needs a doc_id or title id column; got " +
          meta.columns.mkString("(", ", ", ")")))
    require(meta.columns.length > 1,
      s"metadata frame carries no field columns beside $id")
    publishSide(spark, path, MetaDir)(meta.write.mode("overwrite").parquet(_))
  }

  /** The persisted metadata of the index at `path`, with tombstoned
    * docs anti-joined out (matching [[load]]'s read semantics — a
    * deleted doc must not match a pure field leaf between folds).
    * Fails loudly when absent: a fielded query against an index with
    * no `_meta` has nothing correct to return.
    */
  def loadMeta(spark: SparkSession, path: String): DataFrame =
    metaOf(SegmentedStore.snapshot(spark, path, "doc_id"))

  /** [[loadMeta]] against the tombstone keys of `snap`. */
  private def metaOf(snap: SegmentedStore.Snapshot): DataFrame = {
    require(hasMeta(snap.spark, snap.path),
      s"index at ${snap.path} has no $MetaDir side table — fielded (lang:/" +
        "source:) queries need IndexStore.saveMeta(meta, path) run " +
        "beside the index build (compaction carries it forward)")
    SegmentedStore.live(ParquetFooters.read(snap.spark,
      Seq(new org.apache.hadoop.fs.Path(snap.path, MetaDir).toString)), snap.tombstones, "doc_id")
  }

  // ---- SymSpell deletion-neighborhood fuzzy dictionary -------------
  //
  // The fuzzy leaf (`term~1`/`term~2`) cannot bucket-prune — an edit
  // can land in any bucket — so without a side table it pays a
  // levenshtein scan over the FULL term dictionary per query (5.5s
  // p50 at the 500k-doc store). The `_fuzzy` side table is the
  // SymSpell answer (public-domain algorithm, Garbe): for every
  // distinct term, persist all strings reachable by deleting ≤ 2
  // characters, keyed (variant, term). Candidate generation is then
  // one variant-IN equi-probe: if lev(a, b) ≤ d there are ≤ d-delete
  // reductions a' of a and b' of b with a' == b' (align the edit
  // script: a substitution deletes one char on each side, an
  // insert/delete deletes on one side), so probing the query term's
  // own ≤ d-delete variants finds EVERY dictionary term within
  // distance d — superset candidates, trimmed by one exact
  // levenshtein verify over the (tiny) candidate set. Dictionary-
  // sized × O(L²) rows, hash-partitioned and variant-sorted so the
  // IN probe prunes row groups; refreshed by compaction like the
  // other side tables. The table is stamped with the store's data
  // stamp ([[SegmentedStore.dataStamp]]): a segment landed or a fold
  // run after the build makes it not current ([[fuzzyCurrent]]), and
  // readers then fall back to the levenshtein scan, which returns the
  // same rows. A takedown can orphan a dictionary term until the next
  // fold — harmless: its postings lookup anti-joins to empty,
  // identical to the scan path's behavior.

  private val FuzzyDir = "_fuzzy"

  /** The deletion depth `_fuzzy` is built for — covers the grammar's
    * whole `~1`/`~2` range (Lucene's cap, enforced at parse). */
  val FuzzyMaxEdits = 2

  /** All strings reachable from `s` by deleting at most `d`
    * characters (including `s` itself), distinct. |result| ≤
    * 1 + L + C(L,2) for d = 2.
    */
  def deleteVariants(s: String, d: Int): Seq[String] = {
    val all = scala.collection.mutable.LinkedHashSet(s)
    var frontier = Set(s)
    for (_ <- 1 to d) {
      frontier = frontier.flatMap(x =>
        x.indices.map(i => x.take(i) + x.drop(i + 1)))
      all ++= frontier
    }
    all.toSeq
  }

  /** Whether the index at `path` carries a persisted fuzzy dictionary. */
  def hasFuzzy(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path, FuzzyDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Whether the index at `path` carries a `_fuzzy` table built from
    * its current data ([[SegmentedStore.sideCurrent]]) — the one
    * question a handle ([[open]], [[openOnce]]) and the serving mix's
    * pruning counter ask before probing it.
    */
  def fuzzyCurrent(spark: SparkSession, path: String): Boolean =
    SegmentedStore.sideCurrent(spark, path, FuzzyDir)

  /** Build + land the `_fuzzy` table from the saved index's distinct
    * terms (one dictionary pass; the same crash-safe landing as
    * [[saveMeta]]), stamped with the data it was built from.
    */
  def saveFuzzy(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val stamp = SegmentedStore.dataStamp(spark, path)
    val table = load(spark, path).select("term").distinct().as[String]
      .flatMap(t => deleteVariants(t, FuzzyMaxEdits).map(v => (v, t)))
      .toDF("variant", "term")
      .repartition(col("variant")).sortWithinPartitions("variant")
    publishSide(spark, path, FuzzyDir) { dir =>
      table.write.mode("overwrite").parquet(dir)
      SegmentedStore.stampSide(spark, dir, stamp)
    }
  }

  /** The persisted fuzzy dictionary; fails loudly when absent. */
  def loadFuzzy(spark: SparkSession, path: String): DataFrame = {
    require(hasFuzzy(spark, path),
      s"index at $path has no $FuzzyDir side table — run " +
        "IndexStore.saveFuzzy(spark, path) beside the index build " +
        "(compaction carries it forward)")
    ParquetFooters.read(spark, Seq(new org.apache.hadoop.fs.Path(path, FuzzyDir).toString))
  }

  /** Dictionary terms within levenshtein `d` of `t`, via the
    * `_fuzzy` probe: literal variant-IN candidate fetch + one exact
    * verify. `d` must be ≤ [[FuzzyMaxEdits]] (the depth the table
    * was built for).
    */
  def fuzzyTermsVia(fuzzy: DataFrame, t: String, d: Int): DataFrame = {
    require(d <= FuzzyMaxEdits,
      s"fuzzy distance $d exceeds the $FuzzyDir table's build depth $FuzzyMaxEdits")
    fuzzy.filter(col("variant").isin(deleteVariants(t, d): _*))
      .select("term").distinct()
      .filter(levenshtein(col("term"), lit(t)) <= d)
  }

  /** Read an index back, read-latest: the raw relation (a delta-gap
    * `gaps` column decoded back to absolute `positions`, see [[save]])
    * anti-joined against the store's dead-key set
    * ([[SegmentedStore.Snapshot]] over the segments' `_docs`
    * manifests), planned here and run with the query — every call
    * re-lists the store, so it sees every landing and takedown so far.
    * The decode is a narrow codegen'd map AFTER scan filters apply,
    * and term/bucket predicates push through the anti-join's streamed
    * side, so partition pruning and term pushdown are unaffected
    * (auditIndex asserts this); the dead-key side is a doc-count-sized
    * frame AQE broadcasts. A store with at most one segment and no
    * tombstones reads with no join at all. The per-query calls
    * ([[lookup]], `Query.searchIndex`, ...) read this same plan as the
    * [[OpenIndex.idx]] of a one-query handle ([[openOnce]]).
    */
  def load(spark: SparkSession, path: String): DataFrame =
    loadListed(spark, path, SegmentedStore.listing(spark, path))

  /** [[load]] over an already-taken listing: the postings and the
    * dead-key set both describe the segments of `l`, whatever landed
    * since.
    */
  private[graft] def loadListed(spark: SparkSession, path: String,
                                l: SegmentedStore.Listing): DataFrame = {
    val snap = snapshotAt(spark, path, l, hold = false)._1
    snap.live(decoded(snap.raw))
  }

  /** The index store's [[SegmentedStore.Snapshot]] over listing `l`,
    * with its `_docs` manifests ([[manifestsOf]], read at most once)
    * as both the row versions and the second value.
    */
  private def snapshotAt(spark: SparkSession, path: String, l: SegmentedStore.Listing,
                         hold: Boolean): (SegmentedStore.Snapshot, () => Option[DataFrame]) = {
    lazy val docs = manifestsOf(spark, path, l)
    (new SegmentedStore.Snapshot(spark, path, l, "doc_id", hold)(_ => docs.get), () => docs)
  }

  /** The index relation as written, with `gaps` decoded to `positions`. */
  private def decoded(raw: DataFrame): DataFrame =
    if (!raw.columns.contains("gaps")) raw
    else raw.withColumn("positions", PostingsFns.deltaDecode(col("gaps"))).drop("gaps")

  /** The `_docs` manifests of the layouts of `l` as one relation: every
    * segment's (with its `seg` column, [[SegmentedStore.read]]), or a
    * plain root's own — None for a plain root written before roots
    * carried one. With two or more segments these are the versions the
    * dead-key set resolves ([[SegmentedStore.Snapshot.deadKeys]]).
    */
  private def manifestsOf(spark: SparkSession, path: String,
                          l: SegmentedStore.Listing): Option[DataFrame] =
    if (l.segs.nonEmpty) Some(SegmentedStore.read(spark, path, l, "/" + DocsManifest))
    else {
      val p = new org.apache.hadoop.fs.Path(path, DocsManifest)
      if (!SegmentedStore.hasDataFiles(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)) None
      else Some(ParquetFooters.read(spark, Seq(p.toString)))
    }

  /** Fail loudly when the caller's `nBuckets` is not the one the
    * index was SAVED with — ANY other value (smaller or larger)
    * re-hashes terms into bucket ids the layout never wrote, and a
    * lookup would silently return empty/partial postings (the layout
    * contract plays the reference's reducer-count role). The primary
    * check compares against the persisted [[BucketsMarker]]; a
    * pre-marker index falls back to the directory-listing bound,
    * which can only catch too-SMALL values. One driver-side file
    * read / listing, no job.
    */
  private[graft] def requireBucketsMatch(spark: SparkSession, path: String,
                                  nBuckets: Int): Unit =
    buckets(spark, path) match {
      case Some(saved) =>
        require(saved == nBuckets,
          s"index at $path was saved with nBuckets=$saved, not $nBuckets; " +
            "pass the bucket count used at save time")
      case None =>
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // a SEGMENTED root has no term_bucket= dirs of its own —
        // descend into the segments so the bound still sees real
        // bucket ids (a flat root listing would vacuously accept ANY
        // count and a wrong-count lookup would return empty postings)
        val dirs = p +: SegmentedStore.listing(spark, path).segs
          .map(id => new org.apache.hadoop.fs.Path(SegmentedStore.dir(path, id)))
        val ids = dirs.flatMap(d => fs.listStatus(d).map(_.getPath.getName))
          .filter(_.startsWith("term_bucket=")).map(_.stripPrefix("term_bucket=").toLong)
        require(ids.isEmpty || ids.max < nBuckets,
          s"index at $path has bucket ids up to ${ids.max} — it was not saved " +
            s"with nBuckets=$nBuckets; pass the bucket count used at save time")
    }

  /** A resolved snapshot of one index, the one relation every index
    * query reads. Each query is written once, against a handle: the
    * `*On` variants ([[lookupOn]], [[lookupTermsOn]],
    * [[graft.operators.Query.searchIndexOn]]/
    * [[graft.operators.Query.searchRankedIndexOn]],
    * [[graft.streaming.Stream.hybridServeOn]]). Each per-query call
    * ([[lookup]], [[lookupTerms]], `Query.searchIndex`/
    * `searchRankedIndex`, `Stream.hybridServe`'s batches) is its `*On`
    * twin over a one-query handle ([[openOnce]]), which holds nothing
    * and re-lists the store per call — read-latest, like [[load]], at
    * a driver-side cost that grows with the store (the measured ~0.3s
    * p50 floor on the 500k-doc store, r14).
    *
    * The handle is a [[SegmentedStore.Snapshot]] of the store (one
    * listing; the raw relation; the dead-key set over the `_docs`
    * manifests and the tombstones; the holding and [[release]]) plus
    * the index's own pieces. What a serving handle ([[open]]) resolves
    * ONCE:
    *  - at [[open]], on the driver and with no job: the store
    *    [[fingerprint]], then the snapshot's listing, which fixes the
    *    segment set the `raw` relation (its file listing), the `_docs`
    *    manifests ([[docs]]) and the plan of the dead-key set read,
    *    then `_meta` (anti-joined against the snapshot's tombstone
    *    keys) and a current `_fuzzy` ([[fuzzyCurrent]]) — every schema
    *    from a footer read on the driver ([[ParquetFooters]]);
    *  - at the first query: the dead-key set, run and held by the
    *    snapshot — the rows every later query anti-joins, so no query
    *    re-reads a `_docs` manifest or a tombstone file. A store with
    *    at most one segment and no tombstones has no set to hold and no
    *    join in [[idx]];
    *  - at the first ranked query: the live document lengths
    *    ([[dl]]), held the same way, and the corpus scalars n and
    *    avgdl ([[corpus]]), collected once.
    *
    * The held rows keep their lineage: blocks lost with an executor
    * are recomputed from the manifests and tombstone files the handle
    * listed at `open`. [[release]] drops them; [[reopenIfStale]]
    * releases the handle it replaces.
    *
    * What each query still plans for itself: its own bucket-pruned
    * filters over [[idx]] and, only when its AST can match a document
    * without its terms (a NOT that can hold there), the NOT-universe
    * distinct ([[universe]]).
    *
    * Snapshot semantics, stated plainly: segments, tombstones and
    * side tables landed AFTER `open` are not visible through the
    * handle, queried or not (every listing above is taken at `open`) —
    * re-open on refresh ([[reopenIfStale]]). That is the serving
    * deployment's usual snapshot contract (the maintenance loops
    * publish by atomic rename; a handle pins one published state).
    * Ranked scores are exact at the pinned snapshot: dl, n and avgdl
    * resolve through the same dead-key set as the postings.
    */
  final class OpenIndex private[sources] (private[graft] val snapshot: SegmentedStore.Snapshot,
                                          val nBuckets: Int, manifests: () => Option[DataFrame],
                                          val meta: Option[DataFrame], val fuzzy: Option[DataFrame],
                                          val fp: String) {
    def spark: SparkSession = snapshot.spark
    def path: String = snapshot.path

    /** The postings as written, `gaps` decoded to `positions`. */
    val raw: DataFrame = decoded(snapshot.raw)

    /** The layouts' `_docs` manifests ([[manifestsOf]]). */
    lazy val docs: Option[DataFrame] = manifests()

    /** The id column of the indexed corpus: `doc_id`, or `title` for a
      * title-keyed (TSV) index.
      */
    val id: String = if (raw.columns.contains("doc_id")) "doc_id" else "title"

    /** The resolved index relation: [[raw]] anti-joined against the
      * dead-key set.
      */
    lazy val idx: DataFrame = snapshot.live(raw)

    /** The indexed doc set NOT ranges over, keyed by [[id]]. */
    lazy val universe: DataFrame = idx.select(col(id)).distinct()

    /** The live `(id, dl)` rows: the manifests resolved through the
      * same dead-key set as [[idx]]. Fails loudly on a store whose
      * manifests carry no `dl` (written before they did), naming the
      * upgrade.
      */
    lazy val dl: DataFrame = {
      require(docs.exists(_.columns.contains("dl")),
        s"index at $path has no document lengths in its _docs manifests — " +
          "run IndexStore.saveStats(spark, path) once to upgrade the store")
      snapshot.held(snapshot.live(docs.get))
    }

    /** The live corpus scalars `(n, avgdl)` over [[dl]]: n counts the
      * documents with a body length, avgdl is their mean length.
      * Collected once per handle, at its first ranked query, by one
      * job over [[dl]]'s rows (a DataFrame aggregate would add a
      * shuffle stage) — the ranked path plans them as literals. Lengths
      * are whole numbers, so the sum is exact in any order.
      */
    lazy val corpus: (Double, Double) = {
      val (n, total) = dl.select(col("dl")).queryExecution.toRdd.aggregate((0L, 0.0))(
        (acc, r) => if (r.isNullAt(0)) acc else (acc._1 + 1L, acc._2 + r.getDouble(0)),
        (a, b) => (a._1 + b._1, a._2 + b._2))
      (n.toDouble, if (n == 0L) 0.0 else total / n)
    }

    /** Drop the rows this handle holds ([[SegmentedStore.Snapshot.release]]). */
    def release(): Unit = snapshot.release()
  }

  /** Resolve a serving snapshot (see [[OpenIndex]] for what it holds):
    * its [[fingerprint]], the store listing and both side tables.
    * `open` runs no job: the listings and the footer reads that fix
    * each relation's schema run on the driver ([[ParquetFooters]];
    * local sessions list partition directories on the driver too, see
    * [[graft.GraftSession]]), and nothing is computed until a query
    * runs — the dead-key set is planned here and held by the first
    * query.
    */
  def open(spark: SparkSession, path: String,
           nBuckets: Int = DefaultBuckets): OpenIndex =
    handle(spark, path, nBuckets, meta = true, fuzzy = true, hold = true)

  /** A handle for ONE query: every per-query call is its `*On` twin
    * over one. It is read-latest like [[load]] — its [[OpenIndex.idx]]
    * is `load`'s plan, the dead-key set resolved inline with the query
    * — and holds nothing. It resolves `_meta` and `_fuzzy` only when
    * the query asks (a field leaf, a fuzzy leaf) and takes no
    * fingerprint: nothing asks a one-query handle whether it is stale.
    */
  private[graft] def openOnce(spark: SparkSession, path: String, nBuckets: Int,
                              meta: Boolean = false, fuzzy: Boolean = false): OpenIndex =
    handle(spark, path, nBuckets, meta, fuzzy, hold = false)

  private def handle(spark: SparkSession, path: String, nBuckets: Int,
                     meta: Boolean, fuzzy: Boolean, hold: Boolean): OpenIndex = {
    requireBucketsMatch(spark, path, nBuckets)
    // the fingerprint BEFORE the listing: a landing between the two
    // leaves the handle [[stale]] (so it is re-opened), never missing
    // a landing its fingerprint claims to cover
    val fp = if (hold) fingerprint(spark, path) else ""
    val (snap, docs) = snapshotAt(spark, path, SegmentedStore.listing(spark, path), hold)
    // a serving handle reads the manifests' footers now, like every
    // other schema; a one-query handle only when its plan needs them (a
    // dead-key set over two or more segments, a ranked query's dl), as
    // `load` does. Both plan the dead-key set here.
    if (hold) docs()
    snap.deadKeys
    new OpenIndex(snap, nBuckets, docs,
      if (meta && hasMeta(spark, path)) Some(metaOf(snap)) else None,
      // after the listing: a segment landed since the table was built
      // leaves it not current, and the fuzzy leaf scans
      if (fuzzy && fuzzyCurrent(spark, path)) Some(loadFuzzy(spark, path)) else None,
      fp)
  }

  /** Single-term lookup against an [[OpenIndex]]: the `term_bucket`
    * equality prunes directories at planning time; the `term` equality
    * pushes down into the parquet scan of the one surviving bucket.
    * Against a serving handle there is no re-listing and no manifest or
    * tombstone read: the dead-key side is the handle's held rows.
    */
  def lookupOn(oi: OpenIndex, term: String): DataFrame =
    oi.idx
      .filter(col("term_bucket") === bucketOf(term, oi.nBuckets) &&
        col("term") === term)
      .drop("term_bucket")

  /** Multi-term lookup against an [[OpenIndex]] (a boolean query's
    * leaf set fetched in ONE scan): the bucket IN-list prunes to at most
    * |distinct buckets| directories at planning time and the term
    * IN-list pushes into the surviving buckets' row groups — for a
    * q-term query the read is ≤ q/nBuckets of the index however large
    * the index is.
    */
  def lookupTermsOn(oi: OpenIndex, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "lookupTerms needs at least one term")
    oi.idx.filter(termsIn(terms, oi.nBuckets)).drop("term_bucket")
  }

  /** The multi-term fetch filter over an index relation: the bucket
    * IN-list prunes directories at planning time, the term IN-list
    * pushes into the surviving buckets' row groups.
    */
  private[graft] def termsIn(terms: Seq[String], nBuckets: Int): org.apache.spark.sql.Column =
    col("term_bucket").isin(terms.map(bucketOf(_, nBuckets)).distinct: _*) &&
      col("term").isin(terms: _*)

  /** Partition-pruned single-term lookup, read-latest: [[lookupOn]]
    * over a one-query handle ([[openOnce]]).
    */
  def lookup(spark: SparkSession, path: String, term: String,
             nBuckets: Int = DefaultBuckets): DataFrame =
    lookupOn(openOnce(spark, path, nBuckets), term)

  /** Multi-term lookup, read-latest: [[lookupTermsOn]] over a one-query
    * handle ([[openOnce]]).
    */
  def lookupTerms(spark: SparkSession, path: String, terms: Seq[String],
                  nBuckets: Int = DefaultBuckets): DataFrame =
    lookupTermsOn(openOnce(spark, path, nBuckets), terms)

  /** Incremental index maintenance: merge a delta index (the postings
    * of new + re-crawled documents) into a base index. Document
    * granularity: every doc_id present in the delta REPLACES its base
    * postings entirely (a re-crawled document's old terms must
    * disappear), then the delta unions in. The anti-join's build side
    * is the delta's distinct doc set — no broadcast hint: AQE picks
    * broadcast when the delta is small (the common case) and falls
    * back to a shuffled join for bulk re-crawls, so the base streams
    * through one filter either way and is re-bucketed only by
    * [[save]]'s term-bucket repartition.
    */
  def merge(spark: SparkSession, basePath: String, deltaPath: String,
            outPath: String, nBuckets: Int = DefaultBuckets): Unit = {
    val base = load(spark, basePath).drop("term_bucket")
    val delta = load(spark, deltaPath).drop("term_bucket")
    val updated = delta.select("doc_id").distinct()
    val merged = base.join(updated, Seq("doc_id"), "left_anti")
      .unionByName(delta)
      .select(base.columns.map(col): _*)
    save(merged, outPath, nBuckets)
    // side tables travel with the merge (r15 — the r14 verdict's gap
    // #3: a bare merged index failed loudly on fielded/fuzzy serving
    // until the caller re-ran builders it may not know exist). Same
    // carries compaction already does: `_fuzzy` rebuilds from the
    // merged output (ranking needs nothing: [[save]] wrote the output's
    // `_docs`); `_meta` CANNOT be derived from postings, so it merges
    // doc-granular like the postings themselves (a doc_id the delta
    // rewrote takes the delta's metadata row) and is filtered to the
    // output's survivors.
    val metaSrc = Seq(deltaPath -> true, basePath -> false)
      .filter { case (p, _) => hasMeta(spark, p) }
    if (metaSrc.nonEmpty) {
      val frames = metaSrc.map {
        case (p, isDelta) =>
          val m = ParquetFooters.read(spark,
            Seq(new org.apache.hadoop.fs.Path(p, MetaDir).toString))
          if (isDelta) m else m.join(updated, Seq("doc_id"), "left_anti")
      }
      val survivors = ParquetFooters.read(spark, Seq(outPath))
        .select(col("doc_id")).distinct()
      saveMeta(frames.reduce(_.unionByName(_, allowMissingColumns = true))
        .join(survivors, Seq("doc_id"), "left_semi"), outPath)
    }
    if (hasFuzzy(spark, basePath) || hasFuzzy(spark, deltaPath))
      saveFuzzy(spark, outPath)
  }

  // ---- segmented (LSM-style) layout -----------------------------------
  //
  // A SEGMENTED index store is a [[SegmentedStore]] (which states the
  // landing, resolution and fold protocol) whose segments are full
  // [[save]] layouts, landed one per streaming batch by [[saveSegment]]
  // and folded by [[compactSegments]]. The point is the per-batch
  // WRITE cost: a landing writes exactly the delta, where a
  // whole-store rewrite is O(|store|) whatever the delta. Documents
  // resolve last-writer-wins through each segment's tiny `_docs`
  // manifest — doc-count-sized, so a bucket-pruned lookup never scans
  // other buckets to resolve versions ([[SegmentedStore.Snapshot]]). Read
  // amplification is |segments| per bucket, which compaction bounds.

  /** Segment ids present at `path` (empty for a plain single layout). */
  def segmentIds(spark: SparkSession, path: String): Seq[Long] =
    SegmentedStore.listing(spark, path).segs

  /** Land `delta` as segment `segId` of the segmented store at `path`
    * ([[SegmentedStore.land]]): the full bucketed layout plus the
    * `_docs` manifest, published by one atomic rename. Returns false
    * (a no-op) when the segment already exists — the replayed-batch
    * case — or when the delta holds no postings. Refuses a path
    * holding a PLAIN layout, and a bucket count other than the
    * store's.
    */
  def saveSegment(delta: DataFrame, path: String, segId: Long,
                  nBuckets: Int = DefaultBuckets): Boolean = {
    val spark = delta.sparkSession
    // a segment with a DIFFERENT bucket count would make term lookups
    // silently miss postings in half the layout — fail loudly instead
    buckets(spark, path).foreach(saved =>
      require(saved == nBuckets,
        s"segmented store at $path was created with nBuckets=$saved, " +
          s"not $nBuckets; pass the store's bucket count"))
    SegmentedStore.land(spark, path, segId, partitioned = true) { tmp =>
      // root-level bucket marker so requireBucketsMatch validates the
      // segmented store exactly like a plain one (same value each
      // batch). Written BEFORE the segment rename: any VISIBLE segment
      // then implies the marker exists, so a marker-less segmented
      // store can never silently accept lookups with any bucket count
      if (buckets(spark, path).isEmpty) writeBuckets(spark, path, nBuckets)
      save(delta, tmp, nBuckets)
    }
  }

  /** Fold every segment of the store at `path` into one
    * ([[SegmentedStore.fold]]), resolving doc versions and tombstones
    * for real — the bound on segment-count read amplification. A
    * never-segmented store with tombstones folds to a plain root. The
    * fold's output carries its own `_docs` manifest ([[save]]); the
    * side tables are rebuilt inside the swap: `_fuzzy` from the fold's
    * output, `_meta` carried and filtered to the fold's survivors.
    * No-op below two segments without tombstones.
    */
  def compactSegments(spark: SparkSession, path: String): Unit = {
    val nb = buckets(spark, path).getOrElse(DefaultBuckets)
    SegmentedStore.fold(spark, path)(
      dir => save(load(spark, path).drop("term_bucket"), dir, nb),
      (root, data) => {
        writeBuckets(spark, root, nb)
        // a side table half-swapped by a crash sits in its backup, which
        // the root swap below would delete with the old root
        Seq(MetaDir, FuzzyDir).foreach { d =>
          val p = new org.apache.hadoop.fs.Path(path, d)
          StoreSwap.recover(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
        }
        // `_meta` cannot be derived from postings: carried, filtered to
        // the survivors so a takedown'd doc's metadata leaves with it
        if (hasMeta(spark, path)) carryMeta(spark, path, root, data)
        // a term whose last postings folded away leaves the dictionary
        if (hasFuzzy(spark, path)) saveFuzzy(spark, root)
      })
  }
}

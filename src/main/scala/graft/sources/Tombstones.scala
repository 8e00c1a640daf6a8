package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The batch-keyed tombstone discipline SHARED by every content store
  * (r14): a GDPR/DMCA takedown must purge a document EVERYWHERE its
  * content lives — postings ([[IndexStore]]), raw text
  * ([[CorpusStore]]), embeddings (the streaming embed store) — so the
  * deletion contract is one implementation, not one per store. A
  * store's tombstones live in an underscore-prefixed `_tombstones`
  * dir INSIDE it (invisible to parquet data listings; travels with
  * the store through the rename swaps):
  *
  *  - [[append]] — the one-shot operational form: each call appends
  *    one O(|ids|) parquet batch, however large the store;
  *  - [[landBatch]] — the streaming form: a micro-batch's ids land as
  *    ONE `src_batch=<id>` subdir that a replay REPLACES
  *    (exactly-once at batch granularity), stamped with a horizon
  *    marker ([[SegmentedStore.stampHorizon]]). A landing BELOW the
  *    horizon FAILS LOUDLY: batch ids within one query only move
  *    forward, so a lower id means a fresh-checkpoint restart over
  *    outstanding landings — overwriting an earlier batch's dir would
  *    silently un-delete its takedowns. An id EQUAL to the horizon is
  *    the legitimate replay of the last uncommitted batch.
  *  - [[keysOf]] — every landed key, read only through a store's
  *    [[SegmentedStore.Snapshot]] (its dead-key set and its distinct
  *    tombstone keys); a file-less tree (crash between mkdir and file
  *    commit) reads as None instead of bricking every load with a
  *    schema-inference error.
  *
  *  Folding tombstones away for real is [[SegmentedStore.fold]]: the
  *  rewrite reads through the store's (anti-joined) reader and the
  *  `_tombstones` dir does not travel into the new layout. After a
  *  fold the horizon is gone WITH the landings — a fresh checkpoint
  *  over a just-folded store is legitimate because there is nothing
  *  left to clobber.
  */
object Tombstones {
  /** The tombstone dir's name inside a store — visible to this
    * package so a store's own root listing can tell "no tombstones"
    * without a second listing.
    */
  private[sources] val Dir = "_tombstones"

  /** The takedown-epoch file at a store root ([[epoch]]). */
  private[sources] val EpochFile = "_takedown_epoch"

  private def dirOf(path: String) = new org.apache.hadoop.fs.Path(path, Dir)

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Whether the store at `path` carries any tombstone DATA. */
  def hasAny(spark: SparkSession, path: String): Boolean = {
    val p = dirOf(path)
    SegmentedStore.hasDataFiles(fsOf(spark, p), p)
  }

  /** A listing-derived fingerprint of the store's tombstone tree —
    * the sorted recursive file names (markers included, so folds and
    * horizon advances flip it too). One driver-side recursive listing
    * of a tree that is O(landings)-sized by construction, no job.
    * "" when the store carries no tombstone dir. Feeds the serving
    * handles' staleness probes ([[IndexStore.stale]]): any takedown
    * landing, replay, or fold changes at least one file name here.
    */
  def treeFingerprint(spark: SparkSession, path: String): String = {
    val p = dirOf(path)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) return ""
    val names = scala.collection.mutable.ArrayBuffer[String]()
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next().getPath
      names += f.getParent.getName + "/" + f.getName
    }
    names.sorted.mkString(",")
  }

  /** How many batch-keyed landings the store carries — the streaming
    * takedown loop's fold trigger. One driver-side listing, no job.
    */
  def batchCount(spark: SparkSession, path: String): Int = {
    val p = dirOf(path)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(s =>
      s.isDirectory && s.getPath.getName.startsWith("src_batch="))
  }

  /** The tombstone set's applied horizon: the highest batch id whose
    * [[landBatch]] committed. Markers are the source of truth; a store
    * written before the marker scheme falls back to its max
    * `src_batch=` dir id (those ARE batch ids). -1 when no landing is
    * outstanding — including right after a fold removed the dir.
    */
  def horizon(spark: SparkSession, path: String): Long = {
    val p = dirOf(path)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) return -1L
    SegmentedStore.markers(fs, p).maxOption.getOrElse(
      fs.listStatus(p).map(_.getPath.getName).filter(_.startsWith("src_batch="))
        .map(_.stripPrefix("src_batch=").toLong).maxOption.getOrElse(-1L))
  }

  // ---- takedown epoch (r15 — the rebuild-on-takedown tripwire key) ----
  //
  // The horizon and the tombstone tree both RESET when a fold purges
  // the landings, so "did ANY takedown ever happen after time X?" is
  // unanswerable from them alone — exactly the question a
  // rebuild-on-takedown store (pack/interleave: in-place excision
  // would rewrite every straddling pack) must ask before serving. The
  // epoch is a monotonic landing counter at the store root
  // (underscore-prefixed file): every append/landBatch bumps it
  // BEFORE landing (a crash between bump and landing over-counts —
  // the conservative direction), and every fold CARRIES it through
  // the swap, so it only ever moves forward.

  /** Monotonic count of takedown landings the store has processed;
    * 0 for a store that never saw one. One driver-side file read.
    */
  def epoch(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path, EpochFile)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) 0L
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8").trim.toLong
      finally in.close()
    }
  }

  private def bumpEpoch(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, EpochFile)
    val fs = fsOf(spark, p)
    val next = epoch(spark, path) + 1L
    val out = fs.create(p, true)
    try out.write(next.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Copy the epoch into the root of a rewrite at another path
    * ([[CorpusStore.compact]]): the epoch is the one takedown artifact that
    * SURVIVES the purge, by design. An in-place [[SegmentedStore.fold]]
    * carries it itself.
    */
  def carryEpoch(spark: SparkSession, fromPath: String,
                 toPath: String): Unit = {
    val e = epoch(spark, fromPath)
    if (e > 0L) {
      val p = new org.apache.hadoop.fs.Path(toPath, EpochFile)
      val fs = fsOf(spark, p)
      val out = fs.create(p, true)
      try out.write(e.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  /** One-shot tombstone append (see object doc). `key` names the
    * store's content key column (doc_id, vec_id, ...).
    */
  def append(spark: SparkSession, path: String, ids: Seq[Long],
             key: String = "doc_id"): Unit = {
    require(ids.nonEmpty, "append needs at least one id")
    import spark.implicits._
    bumpEpoch(spark, path)
    ids.toDF(key).coalesce(1).write.mode("append")
      .parquet(dirOf(path).toString)
  }

  /** Batch-keyed streaming landing (see object doc). `ids` must carry
    * the store's key column; an empty batch lands nothing and
    * advances no horizon. Returns whether a landing happened.
    */
  def landBatch(ids: DataFrame, path: String, srcBatch: Long,
                key: String = "doc_id"): Boolean = {
    val spark = ids.sparkSession
    val upto = horizon(spark, path)
    require(srcBatch >= upto,
      s"takedown batch $srcBatch is below the applied horizon $upto of " +
        s"store $path: the stream was restarted with a fresh checkpoint " +
        "over outstanding tombstone landings — overwriting batch " +
        s"$srcBatch's earlier landing would silently un-delete its " +
        "takedowns. Restart from the original checkpoint, or fold the " +
        "store before re-pointing a fresh stream at it")
    val dels = ids.select(col(key)).distinct()
    if (dels.isEmpty) return false
    bumpEpoch(spark, path)
    val tomb = dirOf(path)
    dels.coalesce(1).write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(tomb, s"src_batch=$srcBatch").toString)
    // stamp the horizon AFTER the landing (a crash in between replays
    // the same batch, which the >= guard admits and the overwrite
    // makes idempotent)
    SegmentedStore.stampHorizon(fsOf(spark, tomb), tomb, srcBatch)
    true
  }

  /** Every landed tombstone key, duplicates kept; None when nothing
    * was ever deleted, or when the tree holds no data file yet (crash
    * leftover). The recursive read skips partition inference so
    * [[append]] files at the dir root and [[landBatch]] `src_batch=`
    * subdirs mix freely.
    */
  private[sources] def keysOf(spark: SparkSession, path: String,
                              key: String = "doc_id"): Option[DataFrame] =
    if (hasAny(spark, path)) {
      // mergeSchema: landings under different key names must surface
      // BOTH columns (footer-of-first-file inference would silently
      // null out the other file's ids); the tree is O(landings)-sized,
      // so the footer merge runs on the driver
      val raw = ParquetFooters.read(spark, Seq(dirOf(path).toString), mergeSchema = true,
        options = Map("recursiveFileLookup" -> "true"))
      // normalize the key column at read (r15): a store can accumulate
      // landings under BOTH names — pre-r14 landings stored doc_id, and
      // a caller appending with the default key to a vec_id-keyed store
      // leaves a union schema carrying both columns. A blind rename then
      // duplicated the column and every later read failed ambiguous.
      Some(
        if (raw.columns.contains(key) && raw.columns.contains("doc_id") &&
            key != "doc_id")
          raw.select(coalesce(col(key), col("doc_id")).as(key))
        else if (raw.columns.contains(key)) raw.select(col(key))
        else raw.select(col("doc_id").as(key)))
    } else None
}

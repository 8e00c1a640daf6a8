package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Language-partitioned corpus persistence — the sink side of a
  * cleaning pipeline. Documents land under `lang=<code>/` directories
  * so the dominant downstream access pattern (per-language training
  * mixes, per-language quality sweeps) prunes partitions at planning
  * time instead of scanning the corpus; within a partition, rows are
  * source-clustered so parquet row-group min/max statistics prune
  * source-scoped reads too (the same two-level layout the term-
  * bucketed [[IndexStore]] uses for postings).
  *
  * At 100 TB the layout IS the optimization: a `lang = 'de'` read
  * touches only that directory, and repartitioning by the partition
  * column before the write keeps one file per language per shuffle
  * partition instead of |tasks| × |languages| small files.
  */
object CorpusStore {

  def save(docs: DataFrame, path: String): Unit =
    docs
      .repartition(col("lang"))
      .sortWithinPartitions("lang", "source", "doc_id")
      .write.mode("overwrite")
      .partitionBy("lang")
      .parquet(path)

  /** The corpus with takedowns anti-joined out at read time
    * ([[SegmentedStore.Snapshot.tombstones]] — the same contract as
    * IndexStore postings: deletion is live at the next read without
    * rewriting a 100 TB layout, and [[foldTombstones]] purges for
    * real). lang/source predicates still push through the anti-join's
    * streamed side, so partition pruning is unaffected.
    */
  def load(spark: SparkSession, path: String): DataFrame = {
    val snap = SegmentedStore.snapshot(spark, path, "doc_id")
    SegmentedStore.live(snap.raw, snap.tombstones, "doc_id")
  }

  /** Partition-pruned single-language read. */
  def loadLang(spark: SparkSession, path: String, lang: String): DataFrame =
    load(spark, path).filter(col("lang") === lang)

  /** Mark documents DELETED without rewriting the corpus — the
    * one-shot operational form ([[Tombstones.append]]); readers
    * anti-join the set out from the next query on.
    */
  def delete(spark: SparkSession, path: String, docIds: Seq[Long]): Unit =
    Tombstones.append(spark, path, docIds)

  /** Batch-keyed [[delete]] for the streaming takedown loop —
    * exactly-once at batch granularity, loud below the applied
    * horizon ([[Tombstones.landBatch]]).
    */
  def deleteBatch(ids: DataFrame, path: String, srcBatch: Long): Boolean =
    Tombstones.landBatch(ids, path, srcBatch)

  /** Batch-keyed tombstone landings outstanding — the takedown loop's
    * fold trigger ([[Tombstones.batchCount]]).
    */
  def tombstoneBatchCount(spark: SparkSession, path: String): Int =
    Tombstones.batchCount(spark, path)

  /** Fold tombstones into the layout FOR REAL, in place: the store's
    * (anti-joined) [[load]] rewritten as a plain root by
    * [[SegmentedStore.fold]] — deleted documents leave disk, the
    * reader-side anti-join list resets to empty, and the takedown
    * epoch survives for the rebuild-on-takedown consumers
    * (pack/interleave stores). No-op when nothing is deleted.
    */
  def foldTombstones(spark: SparkSession, path: String): Unit =
    SegmentedStore.fold(spark, path)(save(load(spark, path), _))

  /** Small-files compaction: coalesce an accumulation of per-batch
    * document directories (the `batch=<id>` landing dirs the
    * streaming gates emit — correct for exactly-once replay, wrong as
    * a long-term layout: a month of micro-batches is 100k+ tiny
    * files whose open/footer cost dominates any later scan) into the
    * canonical [[save]] layout. Read-then-rewrite is the right shape
    * at any scale — the read is one planning pass over the file
    * listing, the write re-clusters by language exactly like a fresh
    * save, and the swap into place is the caller's move (write to a
    * fresh dir, then repoint — same two-rename discipline as
    * IndexStore's swap). Idempotent: re-running compaction over the
    * same input produces the same output layout.
    */
  def compact(spark: SparkSession, inPath: String, outPath: String): Unit = {
    // reads through [[load]], so any tombstones fold away with the
    // small files (the rewrite is clean either way; `_tombstones`
    // never travels into `outPath` — the takedown EPOCH does, see
    // [[foldTombstones]])
    save(load(spark, inPath), outPath)
    Tombstones.carryEpoch(spark, inPath, outPath)
  }
}

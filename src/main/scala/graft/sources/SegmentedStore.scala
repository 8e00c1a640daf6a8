package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The one segmented-store lifecycle (LSM-style: O'Neil et al., "The
  * Log-Structured Merge-Tree", 1996), shared by the index store
  * ([[IndexStore.saveSegment]]/[[IndexStore.compactSegments]]), the
  * streaming embed, chunk-pack and interleave-pack stores, the
  * batch-keyed ledgers of [[graft.streaming.Stream]] — the fingerprint,
  * vocabulary, sentence and model-count sets of the gates, and the
  * source-mix, heavy-hitter and per-day count ledgers of the monitors —
  * and the corpus store's tombstone fold
  * ([[CorpusStore.foldTombstones]]). This object owns the on-disk
  * format; every other file names it through the members here.
  *
  * The protocol:
  *
  *  - '''Layout.''' A store root holds `seg=<id>` directories, one per
  *    landing, each a complete parquet layout of its own (optionally
  *    partitioned inside). Underscore- and dot-prefixed root entries
  *    are invisible to parquet listings: side tables (`_meta`,
  *    `_tombstones`, ...), marker files, and in-flight temp dirs. A
  *    store written whole (never segmented) has its data at the root
  *    instead, and [[land]] refuses to mix the two.
  *  - '''Snapshot.''' A reader takes ONE root listing ([[Listing]]) and
  *    derives everything it reads from it ([[Snapshot]]: the raw
  *    relation, the dead-key set, the tombstone keys), so a segment
  *    renamed in while it resolves is in every side of the read or in
  *    none.
  *  - '''Landing.''' [[land]] builds the segment in a dot-prefixed
  *    temp dir (`.seg-tmp-<id>`, swept if a dead build left it) and
  *    publishes it with ONE atomic rename: a visible segment is
  *    complete, and its existence makes a replay a no-op. An empty
  *    delta never lands (a data-less segment fails schema inference
  *    on every later read). A batch-keyed landing stamps the applied
  *    horizon marker `_applied_upto_<batchId>` inside the segment
  *    before the rename, so the landing and its horizon commit
  *    together; [[horizon]]/[[requireInHorizon]] read and guard it,
  *    and [[priorBatches]] reads what the earlier batches landed.
  *  - '''Resolution.''' Keys resolve last-writer-wins across
  *    segments: a row `(key, seg)` is dead iff a newer segment holds
  *    `key` or `key` is tombstoned ([[Snapshot.deadKeys]]); readers
  *    anti-join the dead set ([[live]]).
  *  - '''Provenance.''' A side table derived from the data (`_fuzzy`,
  *    `_sq8`) is stamped with the [[dataStamp]] it was built from;
  *    readers treat a table whose stamp is not current as absent
  *    ([[sideCurrent]]).
  *  - '''Folding.''' [[fold]] rewrites the resolved content as
  *    `seg=<max>` of a fresh root (`<root>.compacting`) — or as a
  *    plain root for a never-segmented store — with the horizon
  *    marker, the takedown epoch and the corpus-epoch stamp carried,
  *    store-specific side tables written by the caller, then replaces
  *    the root through the [[StoreSwap]] two-rename. The `_tombstones`
  *    tree does not travel: a fold purges what it resolved away. Like
  *    an empty delta, an empty resolved content never folds.
  */
private[graft] object SegmentedStore {
  private val SegPrefix = "seg="
  private val TmpPrefix = ".seg-tmp-"
  private val FoldSuffix = ".compacting"
  private val HorizonPrefix = "_applied_upto_"

  /** Root stamp of a rebuild-on-takedown store: the corpus takedown
    * epoch its content reflects ([[graft.streaming.Stream.stampCorpusEpoch]]).
    */
  val CorpusEpochFile = "_corpus_epoch"

  /** Root files a fold carries into the replacement root. */
  private val CarriedFiles = Seq(Tombstones.EpochFile, CorpusEpochFile)

  private def fsOf(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def visible(name: String): Boolean =
    !name.startsWith(".") && !name.startsWith("_")

  /** One listing of a store root: its segment ids, sorted; whether it
    * carries a tombstone dir; whether it holds any visible entry
    * (segments or a plain layout's data).
    */
  final case class Listing(segs: Seq[Long], tombstoned: Boolean, hasData: Boolean) {
    /** The id the next landing takes: ids are monotonic, so segment
      * order is landing order even across folds.
      */
    def nextSeg: Long = segs.lastOption.getOrElse(-1L) + 1L
  }

  def listing(spark: SparkSession, path: String): Listing = {
    val (fs, p) = fsOf(spark, path)
    val names = if (!fs.exists(p)) Array.empty[String]
                else fs.listStatus(p).map(_.getPath.getName)
    Listing(
      names.filter(_.startsWith(SegPrefix)).map(_.stripPrefix(SegPrefix).toLong).sorted.toSeq,
      names.contains(Tombstones.Dir), names.exists(visible))
  }

  /** The directory of segment `id`. */
  def dir(path: String, id: Long): String = s"$path/$SegPrefix$id"

  /** The segments of `l` as one relation (a `sub` path such as
    * `/_docs` reads that entry of each segment instead). With the root
    * as basePath each row carries its segment as a `seg` column, typed
    * long so anti-join keys compare without a cast. A never-segmented
    * store reads its root. The schema comes from one footer read on
    * the driver ([[ParquetFooters]]), so building the relation runs no
    * job.
    */
  def read(spark: SparkSession, path: String, l: Listing, sub: String = ""): DataFrame =
    if (l.segs.isEmpty) ParquetFooters.read(spark, Seq(path))
    else ParquetFooters.read(spark, l.segs.map(dir(path, _) + sub), options = Map("basePath" -> path))
      .withColumn("seg", col("seg").cast("long"))

  /** [[read]] over a fresh listing of the store at `path`. */
  def read(spark: SparkSession, path: String): DataFrame = read(spark, path, listing(spark, path))

  /** ONE pinned read of the store at `path`, keyed by column `key`:
    * every relation below derives from the one [[listing]], so a
    * landing after it is in no side of the read.
    *
    *  - [[raw]]: the segments as written ([[read]]), no job;
    *  - [[deadKeys]]: the keys of every row a reader must drop, planned
    *    (not computed). At most one segment: the tombstoned keys (None
    *    without tombstones, and the reader carries no join). Two or
    *    more: the `(key, seg)` pairs a NEWER segment supersedes, from
    *    ONE aggregation over `versions` (the `(key, seg)` pair of every
    *    row version the segments hold); tombstoned keys enter that
    *    union at seg = Long.MaxValue, so the one aggregation yields
    *    both rules;
    *  - [[tombstones]]: the distinct tombstoned keys, for a side table
    *    keyed by `key` that has no versions of its own;
    *  - [[live]]: a relation anti-joined against the dead-key set.
    *
    * A HELD snapshot (`hold`, a serving handle) runs the dead-key set
    * once, at its first use, and keeps the rows with their lineage
    * ([[org.apache.spark.sql.GraftBridge.persisted]]), so later reads
    * anti-join the held rows instead of re-reading versions and
    * tombstone files; [[release]] drops them. A one-query snapshot
    * plans everything inline.
    */
  final class Snapshot(val spark: SparkSession, val path: String, val listing: Listing,
                       key: String, hold: Boolean)(versions: Snapshot => DataFrame) {
    lazy val raw: DataFrame = read(spark, path, listing)

    private def tombstoneKeys: Option[DataFrame] =
      if (listing.tombstoned) Tombstones.keysOf(spark, path, key) else None

    lazy val deadKeys: Option[DataFrame] =
      if (listing.segs.size < 2) tombstoneKeys
      else Some((versions(this).select(col(key), col("seg")) +:
          tombstoneKeys.toSeq.map(_.select(col(key), lit(Long.MaxValue).as("seg"))))
        .reduce(_.unionByName(_))
        .withColumn("newest", max(col("seg")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(key)))
        .filter(col("seg") < col("newest"))
        .select(key, "seg"))

    lazy val tombstones: Option[DataFrame] = tombstoneKeys.map(_.distinct())

    private val heldRdds =
      new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]()

    /** `df`, held with its lineage on a held snapshot; as is otherwise. */
    def held(df: DataFrame): DataFrame =
      if (!hold) df
      else {
        val (rows, rdd) = org.apache.spark.sql.GraftBridge.persisted(df)
        heldRdds.add(rdd)
        rows
      }

    private lazy val dead: Option[DataFrame] = deadKeys.map(held)

    /** `df` (by default [[raw]]) as readers see it ([[SegmentedStore.live]]
      * against the dead-key set).
      */
    def live(df: DataFrame = raw): DataFrame = SegmentedStore.live(df, dead, key)

    /** Drop the rows this snapshot holds (a no-op for what it never
      * materialized). It stays usable: later reads recompute from lineage.
      */
    def release(): Unit = heldRdds.forEach(rdd => rdd.unpersist())
  }

  /** A [[Snapshot]] over a fresh listing whose row versions are its own
    * raw relation (the `(key, seg)` of every stored row).
    */
  def snapshot(spark: SparkSession, path: String, key: String, hold: Boolean = false): Snapshot =
    new Snapshot(spark, path, listing(spark, path), key, hold)(_.raw)

  /** The rows of `raw` readers see: `raw` anti-joined on the dead-key
    * set's columns, then the `seg` column dropped (output columns:
    * `key` first, then the stored ones). A relation that lacks the
    * dead set's columns (a title-keyed index against doc-keyed
    * tombstones) cannot be named by it and reads unfiltered.
    */
  def live(raw: DataFrame, dead: Option[DataFrame], key: String): DataFrame = {
    val kept = dead match {
      case Some(d) if d.columns.forall(raw.columns.contains) =>
        raw.join(d, d.columns.toSeq, "left_anti")
      case _ => raw
    }
    if (!raw.columns.contains("seg")) kept
    else kept.select((key +: raw.columns.filter(c => c != key && c != "seg")).map(col): _*)
  }

  // ---- provenance -----------------------------------------------------

  private val ProvenanceFile = "_provenance"

  /** The store's DATA STAMP: the sorted relative names of its visible
    * data files at every depth ([[dataFiles]]: side tables, tombstones,
    * markers and temp dirs excluded). A landing adds a segment's files
    * and a fold rewrites them under fresh part-file names, so both
    * change it, a one-segment fold that only purges tombstones too; a
    * takedown lands under `_tombstones` and does not. One recursive
    * driver-side listing, no job. "absent" for a missing store.
    */
  def dataStamp(spark: SparkSession, path: String): String = {
    val (fs, p) = fsOf(spark, path)
    if (!fs.exists(p)) "absent"
    else {
      val root = fs.makeQualified(p).toUri.getPath
      dataFiles(fs, p).map(_.getPath.toUri.getPath.stripPrefix(root)).toSeq.sorted.mkString(",")
    }
  }

  /** Stamp the side table being built in `dir` with `stamp`, the
    * [[dataStamp]] taken BEFORE its build read the store: a landing
    * during the build leaves the table stale, never current with
    * rows it lacks.
    */
  def stampSide(spark: SparkSession, dir: String, stamp: String): Unit = {
    val (fs, p) = fsOf(spark, dir)
    val out = fs.create(new Path(p, ProvenanceFile), true)
    try out.write(stamp.getBytes("UTF-8")) finally out.close()
  }

  /** Whether side table `name` of the store at `path` exists and its
    * stamp is the store's current [[dataStamp]]. Readers treat a table
    * that is not current as absent. Jobless (listings and one file read).
    */
  def sideCurrent(spark: SparkSession, path: String, name: String): Boolean = {
    val (fs, p) = fsOf(spark, s"$path/$name/$ProvenanceFile")
    fs.exists(p) && {
      val in = fs.open(p)
      val stamped = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      stamped == dataStamp(spark, path)
    }
  }

  // ---- applied horizon ------------------------------------------------

  /** Batch ids of the horizon markers directly inside `dir`. */
  def markers(fs: FileSystem, dir: Path): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith(HorizonPrefix)).map(_.stripPrefix(HorizonPrefix).toLong).toSeq

  private def segmentMarkers(fs: FileSystem, path: String, segs: Seq[Long]): Seq[Long] =
    segs.flatMap(id => markers(fs, new Path(dir(path, id))))

  /** Stamp `dir` as applied up to `batchId`, dropping the older
    * markers there (the max subsumes them).
    */
  def stampHorizon(fs: FileSystem, dir: Path, batchId: Long): Unit = {
    fs.create(new Path(dir, HorizonPrefix + batchId), true).close()
    markers(fs, dir).filter(_ < batchId)
      .foreach(b => fs.delete(new Path(dir, HorizonPrefix + b), false))
  }

  /** The store's APPLIED HORIZON: the highest batch id whose landing
    * committed — the max marker inside any segment. A segmented store
    * written before the markers falls back to its max segment id
    * (those ids WERE batch ids). -1 for an absent or unstamped store.
    */
  def horizon(spark: SparkSession, path: String): Long = {
    val (fs, _) = fsOf(spark, path)
    val segs = listing(spark, path).segs
    segmentMarkers(fs, path, segs).maxOption.getOrElse(segs.lastOption.getOrElse(-1L))
  }

  /** The store's [[horizon]], after failing LOUDLY when `batchId`
    * sits below it. Batch ids within one query only move forward, so
    * a lower id means the stream was restarted with a FRESH checkpoint
    * over an existing store — double-applied sums, inverted segment
    * order, replaced ledger rows. An id EQUAL to the horizon is the
    * legitimate replay of the last uncommitted batch: callers
    * recompute their idempotent outputs and [[land]] no-ops.
    */
  def requireInHorizon(spark: SparkSession, path: String, batchId: Long): Long = {
    val upto = horizon(spark, path)
    require(batchId >= upto,
      s"batch $batchId is below the applied horizon $upto of store " +
        s"$path: the stream was restarted with a fresh checkpoint " +
        "over an existing store. Restart from the original checkpoint, " +
        "or point the stream at a fresh store path")
    upto
  }

  /** What a batch-keyed sink screens or sums batch `batchId` against:
    * after [[requireInHorizon]], the rows every EARLIER batch landed in
    * the store at `path` — the rows whose `src_batch` is not `batchId`,
    * so a replay of the last batch sees the state its first run saw.
    * Read through [[read]] (schema from a footer, no job), `seg`
    * dropped. An absent or data-less store reads as no rows of
    * `schema`, a DDL string of the stored columns.
    */
  def priorBatches(spark: SparkSession, path: String, batchId: Long, schema: String): DataFrame = {
    requireInHorizon(spark, path, batchId)
    val l = listing(spark, path)
    if (!l.hasData)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), StructType.fromDDL(schema))
    else read(spark, path, l).filter(col("src_batch") =!= batchId).drop("seg")
  }

  // ---- landing ----------------------------------------------------------

  /** The visible data FILES at or below `dir`, listed lazily: files
    * under an underscore- or dot-prefixed entry (markers, manifests,
    * `_SUCCESS`, checksums) don't count. `dir` itself may be a file or
    * a hidden entry such as `_docs`; only what lies below it is
    * filtered. Empty when `dir` does not exist.
    */
  def dataFiles(fs: FileSystem, dir: Path): Iterator[FileStatus] =
    if (!fs.exists(dir)) Iterator.empty
    else {
      val root = fs.makeQualified(dir).toUri.getPath
      val it = fs.listFiles(dir, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next(): FileStatus).filter(st =>
        st.getPath.toUri.getPath.stripPrefix(root).split("/").filter(_.nonEmpty).forall(visible))
    }

  /** True when `dir` holds at least one visible data file ([[dataFiles]]). */
  def hasDataFiles(fs: FileSystem, dir: Path): Boolean = dataFiles(fs, dir).hasNext

  /** Land segment `segId` of the store at `path`: `write` builds it in
    * the temp dir it is handed, then one atomic rename publishes it.
    * Returns false, landing nothing, when the segment already exists
    * (a replay), when `batch` is a batch id the store's applied
    * horizon already covers, or when the write emitted no rows.
    * `partitioned` says whether `write` partitions its output: such a
    * write emits no data file for an empty delta, so file presence
    * alone decides; an unpartitioned one writes a zero-row file, so it
    * also takes a limit-1 read of the written output. `batch` stamps
    * the segment as applied up to that batch id. Refuses a root
    * holding a plain layout (mixed directory depths would corrupt
    * partition discovery): adopt one by rewriting it as a segment first.
    */
  def land(spark: SparkSession, path: String, segId: Long, partitioned: Boolean,
           batch: Option[Long] = None)(write: String => Unit): Boolean = {
    val (fs, root) = fsOf(spark, path)
    val seg = new Path(dir(path, segId))
    if (fs.exists(seg) || batch.exists(_ <= horizon(spark, path))) return false
    if (fs.exists(root))
      require(fs.listStatus(root).forall { st =>
        val n = st.getPath.getName
        n.startsWith(SegPrefix) || !visible(n)
      }, s"$path holds a plain (never-segmented) layout; rewrite it " +
        s"into $SegPrefix<id> form before landing segments")
    val tmp = new Path(path, s"$TmpPrefix$segId")
    if (fs.exists(tmp)) fs.delete(tmp, true) // a dead build's leftover
    write(tmp.toString)
    // skipping is replay-safe: the caller's recompute is
    // deterministic, so a replayed empty batch skips again
    val wroteRows = hasDataFiles(fs, tmp) &&
      (partitioned || !ParquetFooters.read(spark, Seq(tmp.toString)).isEmpty)
    if (!wroteRows) { fs.delete(tmp, true); return false }
    batch.foreach(stampHorizon(fs, tmp, _))
    StoreSwap.mustRename(fs, tmp, seg)
    true
  }

  // ---- folding ----------------------------------------------------------

  /** Fold the store at `path` into one: `write` rewrites its resolved
    * content into the directory it is handed — `seg=<max>` of a fresh
    * root, or that root itself for a never-segmented store — and
    * `sideTables(foldRoot, dataDir)` writes the store's own side
    * tables into the fold root; the highest horizon marker, the
    * takedown epoch and the corpus-epoch stamp are carried, and the
    * [[StoreSwap]] two-rename replaces the root. Runs when there are
    * two or more segments, or tombstones to purge; otherwise a no-op.
    * A `write` that emits no data file (every row resolved away under
    * a partitioned write) folds nothing: the store keeps its segments
    * and tombstones, which still resolve it to empty.
    */
  def fold(spark: SparkSession, path: String)(write: String => Unit,
           sideTables: (String, String) => Unit = (_, _) => ()): Unit = {
    val (fs, root) = fsOf(spark, path)
    StoreSwap.recover(fs, root) // a prior fold may have died mid-swap
    val l = listing(spark, path)
    if (l.segs.size < 2 && !(l.hasData && Tombstones.hasAny(spark, path))) return
    val tmpRoot = path + FoldSuffix
    if (fs.exists(new Path(tmpRoot))) fs.delete(new Path(tmpRoot), true)
    val dataDir = l.segs.lastOption.fold(tmpRoot)(dir(tmpRoot, _))
    write(dataDir)
    // everything resolved away (land's empty-delta rule): a data-less
    // fold would fail schema inference on every later read, while the
    // unfolded store still resolves to empty through its dead keys
    if (!hasDataFiles(fs, new Path(dataDir))) { fs.delete(new Path(tmpRoot), true); return }
    // segment ids are not batch ids: without the max marker the
    // folded store's horizon would fall back to the wrong number
    segmentMarkers(fs, path, l.segs).maxOption.foreach(stampHorizon(fs, new Path(dataDir), _))
    CarriedFiles.map(new Path(root, _)).filter(fs.exists).foreach { f =>
      val in = fs.open(f)
      val bytes = try in.readAllBytes() finally in.close()
      val out = fs.create(new Path(tmpRoot, f.getName), true)
      try out.write(bytes) finally out.close()
    }
    sideTables(tmpRoot, dataDir)
    StoreSwap.swap(fs, root, tmpRoot)
  }
}

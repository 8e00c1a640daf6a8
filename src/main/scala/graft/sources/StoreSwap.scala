package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The crash-safe whole-directory replacement: a two-rename swap (base
  * → backup, replacement → base, drop backup last) so there is never a
  * moment with zero copies on disk, plus the recovery step that repairs
  * a crash between the two renames. Three kinds of publish go through
  * it: [[SegmentedStore.fold]] (which states the segmented-store
  * protocol) replaces a store root; [[publish]] lands a side table
  * (`_meta`, `_fuzzy`, a segment's `_docs`, the embed store's `_sq8`);
  * the bounded reservoirs ([[graft.streaming.Stream]]) replace their
  * whole k-row store each batch. Between the two renames the base is
  * absent: a reader planned in that instant finds no directory, and
  * the next writer's [[recover]] restores the backup.
  * Paths use their OWN filesystem — `FileSystem.get(conf)` would
  * resolve fs.defaultFS and break for object-store paths (where
  * rename is copy+delete: the swap stays CORRECT there — failures
  * replay — but the always-one-copy property assumes atomic rename).
  */
private[graft] object StoreSwap {

  /** Rename that THROWS on failure: HDFS-style filesystems report
    * most failures by returning false, not throwing — swallowing it
    * would let a streaming offset commit while the store silently
    * missed the batch. Throwing fails the batch, so the source
    * replays it and [[recover]] repairs any half-done swap.
    */
  def mustRename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"rename failed: $from -> $to")

  /** Recover from a crash between [[swap]]'s two renames (no base but
    * a backup → restore), then clear any stale backup.
    */
  def recover(fs: FileSystem, base: Path): Unit = {
    val backup = new Path(base.toString + ".backup")
    if (!fs.exists(base) && fs.exists(backup)) mustRename(fs, backup, base)
    if (fs.exists(backup)) fs.delete(backup, true) // stale from a completed swap
  }

  /** Two-rename replacement of `base` by `replacement`, or one rename
    * when there is no base yet; a crash at any point is repaired by
    * [[recover]] at the next use.
    */
  def swap(fs: FileSystem, base: Path, replacement: String): Unit = {
    val backup = new Path(base.toString + ".backup")
    if (fs.exists(base)) mustRename(fs, base, backup)
    mustRename(fs, new Path(replacement), base)
    fs.delete(backup, true)
  }

  /** Land the side table at `dest`: [[recover]] a half-done earlier
    * swap, let `write` build the new table in the dot-prefixed temp
    * dir it is handed (swept first if a dead build left it), then
    * [[swap]] it in. A `write` that leaves no temp dir publishes
    * nothing. Between the two renames a reader sees no table at
    * `dest`, never a partial one.
    */
  def publish(fs: FileSystem, dest: Path)(write: String => Unit): Unit = {
    recover(fs, dest)
    val tmp = new Path(dest.getParent, s".${dest.getName}-tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    write(tmp.toString)
    if (fs.exists(tmp)) swap(fs, dest, tmp.toString)
  }
}

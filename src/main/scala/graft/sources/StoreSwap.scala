package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The crash-safe whole-store replacement: a two-rename swap (base →
  * backup, replacement → base, drop backup last) so there is never a
  * moment with zero store copies on disk, plus the recovery step that
  * repairs a crash between the two renames. [[SegmentedStore.fold]]
  * (which states the segmented-store protocol) and the whole-rewrite
  * streaming ledgers ([[graft.streaming.Stream]]) publish through it.
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

  /** Two-rename replacement; a crash at any point is repaired by
    * [[recover]] at the next use.
    */
  def swap(fs: FileSystem, base: Path, replacement: String): Unit = {
    val backup = new Path(base.toString + ".backup")
    mustRename(fs, base, backup)
    mustRename(fs, new Path(replacement), base)
    fs.delete(backup, true)
  }
}

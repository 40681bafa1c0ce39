package graft.warehouse

import org.apache.hadoop.fs.{FileSystem, Path}

/** The ONE copy of the crash-windowed directory-swap protocol (the
  * three table stores, StreamStore and DailyRollup all swap through it):
  * replace a table directory via two renames —
  * target aside to `<target>__old`, source in, trash dropped last — so
  * every crash point leaves either the old table at `target` or the
  * old table recoverable at `__old`, never a deleted base with the
  * replacement not yet in place. [[recover]] finishes an interrupted
  * swap; WRITERS call it before mutating. A concurrent READER must not
  * recover (its rename would race the writer mid-swap — Hadoop rename
  * into an existing dir NESTS the source, corrupting the table); it
  * reads [[readablePath]] instead.
  */
object AtomicDir {

  def trashPath(target: Path): Path =
    new Path(target.toString + "__old")

  /** Writer-side: finish a crash-interrupted swap (target missing,
    * `__old` holding the pre-swap table). */
  def recover(fs: FileSystem, target: Path): Unit = {
    val old = trashPath(target)
    if (!fs.exists(target) && fs.exists(old) && !fs.rename(old, target))
      throw new IllegalStateException(s"swap recovery failed renaming $old back")
  }

  /** Reader-side: where the current table contents live WITHOUT
    * mutating anything — `target` normally, `__old` mid-swap, None if
    * neither exists. */
  def readablePath(fs: FileSystem, target: Path): Option[Path] =
    if (fs.exists(target)) Some(target)
    else Some(trashPath(target)).filter(fs.exists)

  /** Atomically replace `target` with `source` (both directories). A
    * target stranded at `__old` by an earlier crashed swap is renamed
    * back first: deleting it would leave no readable table until the
    * source is in. */
  def swapInto(fs: FileSystem, target: Path, source: Path): Unit = {
    require(fs.exists(source), s"source $source does not exist")
    val trash = trashPath(target)
    if (fs.exists(trash)) {
      if (fs.exists(target)) fs.delete(trash, true)
      else if (!fs.rename(trash, target))
        throw new IllegalStateException(s"swap failed renaming $trash back")
    }
    if (fs.exists(target) && !fs.rename(target, trash))
      throw new IllegalStateException(s"swap failed renaming $target aside")
    if (!fs.rename(source, target))
      throw new IllegalStateException(s"swap failed renaming $source into place")
    fs.delete(trash, true)
  }
}

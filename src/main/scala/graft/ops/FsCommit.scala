package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}

/** The plain-file commit steps every path-based writer shares, each stated
  * once:
  *
  *  - [[createExclusive]] — atomic create-if-absent of a small file (the
  *    Gold writer lock, the manifest store's claim marker);
  *  - [[swapIn]] / [[recoverSwap]] — the rename-aside directory swap that
  *    publishes a rewritten table ([[ScaleOps.compactParquet]],
  *    [[ScaleOps.deleteKeys]], [[graft.ext.DedupStore.compact]]) and the
  *    crash recovery that makes it safe: a kill at any point leaves either
  *    the old or the new directory reachable, never a mix.
  *
  * The swap has an unavoidable window between its two renames where the
  * live directory does not exist, so it is SINGLE-WRITER with no concurrent
  * readers; [[ManifestStore]] is the no-gap alternative.
  */
object FsCommit {

  /** Where [[swapIn]] parks the live directory between its two renames. */
  def backupOf(live: Path): Path = new Path(live.getParent, live.getName + ".compact_old")

  /** Create `path` holding `bytes` iff it does not exist; true = this caller
    * created it. Hadoop's RawLocalFileSystem implements
    * `create(overwrite = false)` as a NON-atomic exists-then-create, so
    * `file://` goes through java.nio `CREATE_NEW` (an O_EXCL open); other
    * schemes use the filesystem's own exclusive create (atomic on HDFS,
    * best-effort on object stores). The local branch does not create a
    * missing parent directory (it returns false), so callers make it first.
    */
  def createExclusive(fs: FileSystem, path: Path, bytes: Array[Byte]): Boolean =
    try {
      if (Option(fs.getUri.getScheme).getOrElse("file") == "file")
        java.nio.file.Files.write(java.nio.file.Paths.get(path.toUri.getPath), bytes,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
      else {
        val out = fs.create(path, false)
        try out.write(bytes) finally out.close()
      }
      true
    } catch { case _: java.io.IOException => false }

  /** Repair a swap a kill interrupted: the live directory missing with its
    * backup present means the kill landed between the two renames — the
    * backup is the only surviving copy, so restore it. A backup beside a
    * LIVE directory is a completed swap's leftover and is dropped. Run it
    * before reading `live`.
    */
  def recoverSwap(fs: FileSystem, live: Path): Unit = {
    val bak = backupOf(live)
    if (!fs.exists(live) && fs.exists(bak)) {
      if (!fs.rename(bak, live))
        throw new java.io.IOException(s"restore of crashed swap $bak -> $live failed")
    } else fs.delete(bak, true)
  }

  /** Publish the fully written, validated `tmp` as `live`: rename the live
    * directory aside, rename `tmp` in, then drop the backup. A failed
    * rename-in restores the backup rather than leaving the table headless.
    */
  def swapIn(fs: FileSystem, tmp: Path, live: Path): Unit = {
    recoverSwap(fs, live)
    val bak = backupOf(live)
    if (fs.exists(live) && !fs.rename(live, bak))
      throw new java.io.IOException(s"rename $live aside failed")
    if (!fs.rename(tmp, live)) {
      if (fs.exists(bak)) fs.rename(bak, live)
      throw new java.io.IOException(s"publish of $tmp as $live failed")
    }
    fs.delete(bak, true)
  }
}

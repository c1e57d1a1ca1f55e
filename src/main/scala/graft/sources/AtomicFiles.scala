package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

/** One shared write-temp-then-rename helper for every small state file in
  * the engine — the store manifests (`_current`, `_v<n>`), the `_spec`
  * identity records, the catalog boundaries, stats records and the MV
  * state files all commit through [[write]]: the rename IS the commit
  * point, so a reader never observes a half-flushed record and a crash
  * mid-write leaves only an orphaned temp file (a table's writer sweeps
  * the temps of its own files, see [[BucketedStore.sweep]]). Duplicating
  * this block per call site is how one of them (the catalog's boundary
  * history) shipped without it — keep the atomicity contract in exactly
  * one place.
  */
object AtomicFiles {

  /** Write `body` to `path` atomically (parent dirs created; an existing
    * file is replaced). The temp name starts with a dot so directory
    * listings filtering on name prefixes never pick up an in-flight write.
    */
  def write(conf: Configuration, path: Path, body: Array[Byte]): Unit = {
    val fs = path.getFileSystem(conf)
    Option(path.getParent).foreach(fs.mkdirs(_))
    val tmp = new Path(path.getParent,
      s".${path.getName}.tmp.${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(body) finally out.close()
    FileContext.getFileContext(tmp.toUri, conf)
      .rename(tmp, path, Options.Rename.OVERWRITE)
  }

  /** When `name` is a temp [[write]] left behind (killed between the
    * temp write and its rename), the name of the file it was for:
    * `._current.tmp.<nanos>` → `_current`.
    */
  def tempTarget(name: String): Option[String] = name match {
    case Temp(target) => Some(target)
    case _ => None
  }
  private val Temp = raw"\.(.+)\.tmp\.\d+".r

  /** Move a staged file or dir into place. A failed rename fails loudly,
    * before any manifest can name the target — publishing an entry for a
    * dir that never moved would make every later read of it fail.
    */
  def moveStaged(fs: FileSystem, from: Path, to: Path, what: String): Unit =
    require(fs.rename(from, to),
      s"staging rename failed for $what ($from -> $to)")
}

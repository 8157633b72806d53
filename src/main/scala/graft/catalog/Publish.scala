package graft.catalog

import java.io.IOException

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}

/** How a write becomes visible: each table, version, sidecar and batch
  * is staged under another name, then moved into place through here.
  *
  * Hadoop's rename reports most failures by returning `false`, and
  * renames a directory onto an existing one INTO it (`rename(a, b)`
  * gives `b/a/…` and returns `true`); [[move]] throws on both. Its
  * existence check and rename are two calls, not one atomic step,
  * which graft's single writer per table makes enough.
  */
object Publish {

  /** Rename `src` to `dst`; throws if `dst` exists or the rename fails. */
  def move(fs: FileSystem, src: Path, dst: Path): Unit = {
    if (fs.exists(dst)) throw new FileAlreadyExistsException(s"$dst exists")
    if (!fs.rename(src, dst)) throw new IOException(s"rename failed: $src -> $dst")
  }

  /** Replace the file or directory `dst` with `staged`: move `dst` out
    * to `backup`, `staged` in, then drop `backup`. Readers may see no
    * `dst` between the two moves; a crash there leaves only `backup`,
    * which [[heal]] (run first here) restores, so data is never lost.
    */
  def swap(fs: FileSystem, staged: Path, dst: Path, backup: Path): Unit = {
    heal(fs, dst, backup)
    fs.delete(backup, true)
    if (fs.exists(dst)) move(fs, dst, backup)
    move(fs, staged, dst)
    fs.delete(backup, true)
  }

  /** Restore `dst` from a `backup` stranded by a crashed [[swap]]. */
  def heal(fs: FileSystem, dst: Path, backup: Path): Unit =
    if (!fs.exists(dst) && fs.exists(backup)) move(fs, backup, dst)

  /** Move the staged `.parquet` files into `dest` under `prefix`,
    * first deleting any earlier attempt's files under that prefix, so
    * a replayed batch converges to one copy; then remove `staging` and
    * its `_staging_<table>` parent. A failed move throws: a streaming
    * batch then fails and replays instead of committing part of itself.
    */
  def files(fs: FileSystem, staging: Path, dest: Path, prefix: String): Unit = {
    require(staging.getParent.getName.startsWith("_staging_"), staging)
    fs.mkdirs(dest)
    fs.listStatus(dest).filter(_.getPath.getName.startsWith(prefix))
      .foreach(s => fs.delete(s.getPath, false))
    fs.listStatus(staging).filter(_.getPath.getName.endsWith(".parquet"))
      .foreach(f => move(fs, f.getPath, new Path(dest, prefix + f.getPath.getName)))
    fs.delete(staging.getParent, true)
  }
}

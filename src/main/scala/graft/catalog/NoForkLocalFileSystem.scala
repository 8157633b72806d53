package graft.catalog

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem, except that a file's or
  * directory's mode is set with a syscall instead of a process.
  *
  * Without native libhadoop, `RawLocalFileSystem.setPermission` forks
  * `chmod` (`Shell.execCommand`), and every create and mkdir calls it:
  * a parquet file and its `.crc` cost two forks, ~5 ms each. Here the
  * same mode, already umasked by the caller, is applied through
  * `Files.setPosixFilePermissions`; a mode NIO cannot express (sticky,
  * setuid, setgid bits) still takes Hadoop's path. Checksums and
  * umask are the stock class's.
  *
  * [[graft.GraftSession.configure]] registers it for `file:` paths. It
  * replaces the class `file:` resolves to otherwise: with Spark's Hive
  * jars on the classpath, that is Hive's `ProxyLocalFileSystem`, a
  * `LocalFileSystem` whose rename never replaces an existing file.
  * That rename is kept: the build lock's stale-steal relies on it to
  * put a stolen lock back only while no new holder created one.
  */
class NoForkLocalFileSystem
    extends LocalFileSystem(new NoForkLocalFileSystem.Raw) {
  override def rename(src: Path, dst: Path): Boolean =
    !pathToFile(dst).isFile && super.rename(src, dst)
}

object NoForkLocalFileSystem {

  /** `PosixFilePermission` values in declaration order, OWNER_READ
    * first: value `i` is mode bit `8 - i`. */
  private val bits = PosixFilePermission.values.toSeq.zipWithIndex

  private[catalog] class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xfff // 07777
      if (mode > 0x1ff) super.setPermission(p, permission) // above 0777
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        bits.collect { case (v, i) if (mode & (1 << (8 - i))) != 0 => v }
          .toSet.asJava)
    }
  }
}

/** [[NoForkLocalFileSystem]]'s counterpart for `FileContext`, the API
  * Spark's streaming checkpoints write through: Hadoop's `LocalFs` (a
  * `ChecksumFs` over `RawLocalFs`) with the raw layer delegating to
  * the non-forking raw filesystem. Without it every checkpoint file,
  * its `.crc` and its directory fork `chmod` (20 per micro-batch of a
  * windowed aggregation). [[graft.GraftSession.configure]] registers it
  * for `FileContext`'s `file:` scheme.
  */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkLocalFs.Raw(uri, conf))

object NoForkLocalFs {

  /** Hadoop's `RawLocalFs` over [[NoForkLocalFileSystem.Raw]]. */
  private class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new NoForkLocalFileSystem.Raw, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}

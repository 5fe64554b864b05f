package graft.io

import java.io.File
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.SparkSession

/** Hadoop's raw local filesystem without its per-file child processes.
  *
  * Without the native Hadoop library, `RawLocalFileSystem` runs
  * `chmod` in a child process for every file it creates and every
  * directory it makes, and `readlink` in another for every
  * `getFileLinkStatus` (each FileContext rename asks twice). This
  * subclass does both in-process and computes the same results:
  *
  *  - [[setPermission]] sets the mode that GNU `chmod NNNN <path>`
  *    would, with one chmod(2) through java.nio: the requested bits,
  *    plus a directory's set-user-ID and set-group-ID bits, which a
  *    four-digit octal mode leaves alone on a directory. Where the
  *    native library is loaded, or the platform has no `unix` attribute
  *    view to set a mode through, it is Hadoop's own call.
  *  - [[getFileLinkStatus]] is `getFileStatus(f)`, which is what the
  *    stock call returns whenever `readlink` on `new File(f.toString)`
  *    prints nothing; a path that is a symbolic link there still goes
  *    to Hadoop's own call.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NativeIO.isAvailable || !ForkFreeLocalFs.unixView) super.setPermission(p, permission)
    else {
      val file = pathToFile(p).toPath
      val current = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      val kept = if ((current & ForkFreeLocalFs.TypeMask) == ForkFreeLocalFs.Dir)
        current & ForkFreeLocalFs.SetId else 0
      Files.setAttribute(file, "unix:mode", Int.box((permission.toShort & 0x0fff) | kept))
      ()
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` FileSystem over [[ForkFreeRawLocalFileSystem]]:
  * `fs.file.impl` under [[ForkFreeLocalFs.install]]. `.crc` sidecars are
  * written as `LocalFileSystem` writes them.
  *
  * A rename onto an existing file returns false, as the Hadoop
  * FileSystem specification asks and as the `file:` filesystem the
  * Spark distribution resolves without `fs.file.impl` does (Hive's
  * `ProxyLocalFileSystem`, listed last among the `FileSystem`
  * services); plain `LocalFileSystem` would replace the file.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** The raw FileContext form, as Hadoop's `RawLocalFs` delegates to
  * `RawLocalFileSystem`.
  */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed FileContext `file:` filesystem, as Hadoop's `LocalFs`:
  * `fs.AbstractFileSystem.file.impl` under [[ForkFreeLocalFs.install]].
  * Spark's streaming checkpoints (`CheckpointFileManager`) write through
  * FileContext, so they go through here.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

object ForkFreeLocalFs {
  private[io] val TypeMask = 0xf000 // S_IFMT
  private[io] val Dir = 0x4000      // S_IFDIR
  private[io] val SetId = 0xc00     // S_ISUID | S_ISGID

  private[io] lazy val unixView: Boolean =
    java.nio.file.FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  private val fsKey = "fs.file.impl"
  private val afsKey = "fs.AbstractFileSystem.file.impl"

  /** Make `spark`'s `file:` filesystem the fork-free one: name both
    * classes in its context's Hadoop conf and, because Hadoop's
    * FileSystem cache is keyed without the conf, close (and so evict)
    * a stock `file:` instance already cached, so the next lookup
    * builds this one. Idempotent and cheap once done: a conf read and
    * a cache lookup. [[graft.GraftSession]] calls it, and so do the
    * seams that take a session graft did not build
    * ([[graft.core.Warehouse]], [[graft.sources.Catalog]]).
    */
  def install(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    setIfOther(conf, fsKey, classOf[ForkFreeLocalFileSystem])
    setIfOther(conf, afsKey, classOf[ForkFreeLocalFs])
    if (!cached(conf)) synchronized {
      if (!cached(conf)) {
        FileSystem.get(FsConstants.LOCAL_FS_URI, conf).close()
        // refill the cache through this conf at once: a lookup through
        // a conf without the keys would cache the stock class again
        FileSystem.get(FsConstants.LOCAL_FS_URI, conf)
      }
    }
  }

  private def cached(conf: Configuration): Boolean =
    FileSystem.get(FsConstants.LOCAL_FS_URI, conf).isInstanceOf[ForkFreeLocalFileSystem]

  /** Set only on a change: a job serializing the shared conf while
    * another thread writes it can fail.
    */
  private def setIfOther(conf: Configuration, key: String, cls: Class[_]): Unit =
    if (conf.get(key) != cls.getName) conf.set(key, cls.getName)
}

package graft.util

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its two per-call process
  * forks. With no native Hadoop library on the classpath (the usual
  * case for an embedded Spark), `RawLocalFileSystem` runs
  *  - `chmod` through `Shell` for every `setPermission` — which every
  *    file create and `mkdirs` calls — and
  *  - `readlink` for every `getFileLinkStatus` — which
  *    `FileContext.rename` calls on both ends of each checkpoint-log
  *    write.
  * A forked `chmod`/`readlink` costs 2–3 ms in a multi-GB JVM; the
  * `java.nio` call costs ~0.01 ms. One streaming micro-batch that
  * commits its offset and commit logs and writes a parquet snapshot
  * made ~38 of them (see PLAN_NOTES.md, "the next floor").
  *
  * The results are the stock ones: the nine rwx bits are set with
  * `Files.setPosixFilePermissions` (any other bit, i.e. sticky, and
  * a non-POSIX filesystem go to the stock path), and a path that is
  * not a symlink reports exactly its `getFileStatus`, which is what the
  * stock code returns once `readlink` printed nothing. Symlinks take
  * the stock path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, NioLocalFs.posix(mode))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `FileSystem` for `file:` (checksummed, like the stock
  * `LocalFileSystem`) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `AbstractFileSystem` for `file:` that `FileContext` — and with it
  * Structured Streaming's checkpoint file manager — resolves: the stock
  * `LocalFs` shape (`ChecksumFs` over `RawLocalFs`) with the raw layer
  * delegating to [[NioRawLocalFileSystem]]. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** `RawLocalFs` over [[NioRawLocalFileSystem]]; its overrides are the
  * stock class's (no default port, every name valid, local server
  * defaults), whose constructors are package-private. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

object NioLocalFs {

  /** Session confs that route `file:` to the classes above, for both
    * Hadoop APIs (`FileSystem.get` and `FileContext`). They must be set
    * when the session is built: `FileSystem` instances are cached per
    * scheme for the life of the JVM. */
  val sessionConfs: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  private val bits = PosixFilePermission.values // OWNER_READ (0400) … OTHERS_EXECUTE (0001)

  /** The POSIX permission set of the low nine bits of `mode`. */
  private[util] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    var i = 0
    while (i < 9) {
      if ((mode & (0x100 >> i)) != 0) set.add(bits(i))
      i += 1
    }
    set
  }
}

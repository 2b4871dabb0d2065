package thrivespark

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The `file:` filesystem, installed by `fs.file.impl` in this project's
  * `core-site.xml`: Hadoop's `LocalFileSystem` (checksummed, so `.crc`
  * companions are written as before) over a raw filesystem that does not
  * fork to set permissions or to read link status.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * forks `chmod` through `Shell.execCommand`, and it runs for every file
  * create and every directory `mkdirs` makes: parquet parts, checksum
  * files, streaming offset and commit logs, state deltas. A JFR recording
  * of one perfbench `stream_ingest` run (4 cores) held 862 such forks at
  * about 2.8 ms each; `Files.setPosixFilePermissions` sets the same 9 bits
  * in about 0.01 ms. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** `RawLocalFileSystem` with a fork-free `setPermission` and
    * `getFileLinkStatus`. Hadoop's own path stays in force where it
    * differs: for permissions with the native library (`NativeIO` calls
    * chmod(2) itself) and for a sticky bit, which `PosixFilePermission`
    * cannot express; for link status on a symlink. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))

    /** Hadoop 3.4 asks `FileUtil.readLink` whether the path is a symlink,
      * and that forks `readlink`, native library or not. FileContext's
      * rename calls this for source and destination of every checkpoint
      * commit. For anything but a symlink Hadoop returns `getFileStatus`,
      * so does this, and a missing path still throws
      * `FileNotFoundException`. */
    override def getFileLinkStatus(p: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
      else getFileStatus(p)
  }
}

/** The `file:` filesystem of the FileContext API, installed by
  * `fs.AbstractFileSystem.file.impl` in `core-site.xml`. Spark's default
  * streaming checkpoint manager writes offset and commit logs and state
  * files through this API. It is Hadoop's `LocalFs` (a `ChecksumFs`, so
  * `.crc` companions stay) over `NioLocalFileSystem.Raw`, built here
  * because `LocalFs` and `RawLocalFs` have package-private constructors.
  * Like `LocalFs`, it ignores the URI: `file:` has one root. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.RawFs(FsConstants.LOCAL_FS_URI, conf))

object NioLocalFs {

  /** Hadoop's `RawLocalFs`, with its four overrides, over the fork-free
    * raw filesystem. */
  class RawFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(uri,
      new NioLocalFileSystem.Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}

package thrivespark

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The `file:` filesystem, installed by `fs.file.impl` in this project's
  * `core-site.xml`: Hadoop's `LocalFileSystem` (checksummed, so `.crc`
  * companions are written as before) over a raw filesystem whose only
  * change is how it sets permissions.
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

  /** `RawLocalFileSystem` with a fork-free `setPermission`. Hadoop's own
    * path stays in force where it differs: with the native library
    * (`NativeIO` calls chmod(2) itself) and for a sticky bit, which
    * `PosixFilePermission` cannot express. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }
}

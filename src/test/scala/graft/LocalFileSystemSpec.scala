package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import thrivespark.streaming.StreamRunner
import thrivespark.{NioLocalFileSystem, NioLocalFs, Scratch, Tables}

/** The `file:` scheme runs on `NioLocalFileSystem` through the FileSystem
  * API and on `NioLocalFs` through FileContext: the permission bits and
  * link status they give are Hadoop's, and local writes and streaming
  * checkpoints no longer fork `chmod` or `readlink`. */
class LocalFileSystemSpec extends AnyFunSuite {
  import SparkTestBase._

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  private def opened[F <: FileSystem](fs: F): F = {
    fs.initialize(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    fs
  }

  /** The 9 permission bits of a local path, as `rwxr-x---`. */
  private def bits(p: Path) =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p.toUri)))

  /** The mode including the sticky bit, which the 9 bits above cannot show. */
  private def mode(p: Path) =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0x3ff

  test("file: resolves to NioLocalFileSystem through the project's core-site.xml") {
    assert(FileSystem.get(new URI("file:///"), new Configuration()).getClass ==
      classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).getClass ==
      classOf[NioLocalFileSystem])
  }

  test("FileContext's file: resolves to NioLocalFs through the project's core-site.xml") {
    assert(AbstractFileSystem.get(new URI("file:///"), new Configuration()).getClass ==
      classOf[NioLocalFs])
    assert(FileContext.getLocalFSFileContext().getDefaultFileSystem.getClass ==
      classOf[NioLocalFs])
    // the context Spark's default checkpoint manager opens for a local path
    assert(FileContext.getFileContext(new URI("file:///tmp"),
      spark.sparkContext.hadoopConfiguration).getDefaultFileSystem.getClass == classOf[NioLocalFs])
  }

  test("getFileLinkStatus gives what Hadoop's RawLocalFileSystem gives for a file, " +
      "a directory, a missing path, a symlink and a dangling symlink") {
    val nio = opened(new NioLocalFileSystem.Raw)
    val hadoop = opened(new RawLocalFileSystem)
    // FileStatus.equals compares paths only; a throw must be the same throw
    def outcome(fs: FileSystem, p: Path) = scala.util.Try(fs.getFileLinkStatus(p)).map(s =>
      (s.getPath, s.isDirectory, s.getLen, s.getModificationTime, s.getPermission, s.getOwner,
        s.getGroup, s.isSymlink, if (s.isSymlink) s.getSymlink else null)
    ).toEither.left.map(_.getClass)
    val base = Paths.get(Scratch.dir("fs_link"))
    try {
      val file = Files.write(base.resolve("file"), Array[Byte](1, 2, 3))
      val dir = Files.createDirectory(base.resolve("dir"))
      val link = Files.createSymbolicLink(base.resolve("link"), file)
      val dangling = Files.createSymbolicLink(base.resolve("dangling"), base.resolve("gone"))
      val missing = base.resolve("missing")
      // Hadoop runs readlink on the path's string, so it sees a symlink
      // only when that string is a plain local path, not a file: URI
      for (f <- Seq(file, dir, link, dangling, missing);
           p <- Seq(new Path(f.toString), new Path(f.toUri))) {
        val (got, want) = (outcome(nio, p), outcome(hadoop, p))
        assert(got == want, s"$p: $got vs $want")
      }
      assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink, "a symlink must read as one")
      assert(nio.getFileLinkStatus(new Path(dangling.toString)).isSymlink, "a dangling symlink too")
      intercept[java.io.FileNotFoundException](nio.getFileLinkStatus(new Path(missing.toString)))
    } finally {
      nio.close(); hadoop.close()
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    }
  }

  test("file creates and mkdirs leave the bits Hadoop's chmod path leaves, " +
      "under the session's umask; a sticky bit goes to Hadoop's path") {
    val nio = opened(new NioLocalFileSystem)
    val hadoop = opened(new LocalFileSystem)
    val umask = FsPermission.getUMask(spark.sparkContext.hadoopConfiguration)
    val base = new Path(Paths.get(Scratch.dir("fs_perm")).toUri)
    try {
      for (p <- Seq("600", "640", "644", "700", "750", "755", "777")) {
        val perm = octal(p)
        val want = perm.applyUMask(umask).toString
        def created(fs: FileSystem, side: String) = {
          val f = new Path(base, s"$side/f$p")
          val out = fs.create(f, perm, true, 4096, 1.toShort, 1L << 26, null)
          try out.write(1) finally out.close()
          (bits(f), bits(new Path(base, s"$side/.f$p.crc")))
        }
        val (nioFile, nioCrc) = created(nio, "nio")
        val (hadoopFile, hadoopCrc) = created(hadoop, "hadoop")
        assert(nioFile == hadoopFile && nioCrc == hadoopCrc,
          s"create $p: nio $nioFile/$nioCrc vs hadoop $hadoopFile/$hadoopCrc")
        assert(nioFile == want, s"create $p under umask $umask: $nioFile, want $want")
        def made(fs: FileSystem, side: String) = {
          val d = new Path(base, s"$side/d$p")
          assert(fs.mkdirs(d, perm))
          bits(d)
        }
        val nioDir = made(nio, "nio")
        assert(nioDir == made(hadoop, "hadoop"), s"mkdirs $p")
        assert(nioDir == want, s"mkdirs $p under umask $umask: $nioDir, want $want")
      }
      Seq(nio -> "nio", hadoop -> "hadoop").foreach { case (fs, side) =>
        val d = new Path(base, s"$side/sticky")
        assert(fs.mkdirs(d))
        fs.setPermission(d, octal("1755"))
        assert(mode(d) == Integer.parseInt("1755", 8), f"$side: sticky dir mode ${mode(d)}%o")
      }
    } finally {
      nio.close(); hadoop.close()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base.toUri))
    }
  }

  test("a parquet write and a stream_stream_join replay on a local checkpoint " +
      "start no chmod process") {
    // also no readlink, and a FileContext create and overwriting rename
    // (the commit of Spark's default checkpoint manager) start neither
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val base = Scratch.dir("fs_nofork")
    val ev = Tables.events(spark, sf0001)
    val cut = ev.agg(expr("timestamp_micros((min(unix_micros(ts)) + " +
      "max(unix_micros(ts))) div 2)")).head().getTimestamp(0)
    // forks this recording must see: Hadoop's shell chmod and readlink,
    // run directly
    val probe = Files.createFile(Paths.get(base, "probe")).toString
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val src = s"$base/src"
      ev.filter(col("ts") < lit(cut)).coalesce(1).write.parquet(src)
      ev.filter(col("ts") >= lit(cut)).coalesce(1).write.mode("append").parquet(src)
      assert(StreamRunner.viewPurchaseJoin(spark, src, spark.read.parquet(src).schema,
        s"$base/cp", "t_fs_nofork").count() > 0)
      val fc = FileContext.getFileContext(spark.sparkContext.hadoopConfiguration)
      val (tmp, dst) = (new Path(s"file://$base/fc/.tmp"), new Path(s"file://$base/fc/final"))
      for (i <- 1 to 2) {  // the second rename replaces an existing file
        val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        try out.write(i) finally out.close()
        fc.rename(tmp, dst, Options.Rename.OVERWRITE)
      }
      org.apache.hadoop.util.Shell.execCommand("chmod", "600", probe)
      org.apache.hadoop.fs.FileUtil.readLink(new java.io.File(probe))
      rec.stop()
      val dump = Paths.get(base, "rec.jfr")
      rec.dump(dump)
      val commands = RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
      for (cmd <- Seq("chmod", "readlink")) {
        val forks = commands.filter(_.startsWith(cmd))
        assert(forks.count(_.contains(probe)) == 1, s"the recording missed the $cmd probe: $commands")
        val engine = forks.filterNot(_.contains(probe))
        assert(engine.isEmpty, s"${engine.size} $cmd forks, e.g. ${engine.take(3)}")
      }
      assert(Files.readAllBytes(Paths.get(base, "fc", "final")).toSeq == Seq[Byte](2))
      assert(Files.exists(Paths.get(base, "fc", ".final.crc")), "the rename lost the .crc companion")
    } finally {
      rec.close()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }
}

package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import thrivespark.streaming.StreamRunner
import thrivespark.{NioLocalFileSystem, Scratch, Tables}

/** The `file:` scheme runs on `NioLocalFileSystem`: the permission bits it
  * leaves are Hadoop's, and local writes and streaming checkpoints no
  * longer fork `chmod`. */
class LocalFileSystemSpec extends AnyFunSuite {
  import SparkTestBase._

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  private def opened(fs: FileSystem): FileSystem = {
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
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val base = Scratch.dir("fs_nofork")
    val ev = Tables.events(spark, sf0001)
    val cut = ev.agg(expr("timestamp_micros((min(unix_micros(ts)) + " +
      "max(unix_micros(ts))) div 2)")).head().getTimestamp(0)
    // a fork this recording must see: Hadoop's shell chmod, run directly
    val probe = Files.createFile(Paths.get(base, "probe")).toString
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val src = s"$base/src"
      ev.filter(col("ts") < lit(cut)).coalesce(1).write.parquet(src)
      ev.filter(col("ts") >= lit(cut)).coalesce(1).write.mode("append").parquet(src)
      assert(StreamRunner.viewPurchaseJoin(spark, src, s"$base/cp", "t_fs_nofork").count() > 0)
      org.apache.hadoop.util.Shell.execCommand("chmod", "600", probe)
      rec.stop()
      val dump = Paths.get(base, "rec.jfr")
      rec.dump(dump)
      val commands = RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
      val chmods = commands.filter(_.startsWith("chmod"))
      assert(chmods.count(_.contains(probe)) == 1, s"the recording missed the probe: $commands")
      val engine = chmods.filterNot(_.contains(probe))
      assert(engine.isEmpty, s"${engine.size} chmod forks, e.g. ${engine.take(3)}")
    } finally {
      rec.close()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }
}

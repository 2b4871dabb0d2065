package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import thrivespark.{DurableStage, Registry, Shared}

/** The durable-stage contract: a stage is reused only while its sources and
  * spec version match its marker, and it is published by build-then-swap. */
class DurableStageSpec extends AnyFunSuite {
  import SparkTestBase._

  /** A unique fixture dir holding one single-file source table `t`, and the
    * stage `name` over it; both are deleted afterwards. */
  private def withStage(name: String)(body: (String, Path) => Unit): Unit = {
    val sf = Files.createTempDirectory("sf_stage_spec").toFile
    Files.write(new File(sf, "t.parquet").toPath, Array[Byte](1, 2, 3))
    val stage = Paths.get("/tmp",
      s"${DurableStage.Prefix}${name}_${sf.getName.replace(".", "_")}")
    try body(sf.getPath, stage)
    finally { FileUtils.deleteQuietly(sf); FileUtils.deleteQuietly(stage.toFile) }
  }

  /** Every file under `dir` by relative path, with its bytes. */
  private def snapshot(dir: Path): Map[String, Seq[Byte]] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => dir.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
    finally walk.close()
  }

  private def data(stage: String) = new String(Files.readAllBytes(Paths.get(stage, "data")))

  test("a second call with the same sources and version reuses the stage " +
      "without calling write; a new version rebuilds it") {
    withStage("spec_reuse") { (sf, stage) =>
      var calls = 0
      def build(v: String)(dir: String): Unit = {
        calls += 1
        Files.write(Paths.get(dir, "data"), s"$v#$calls".getBytes): Unit
      }
      val p1 = DurableStage("spec_reuse", sf, Seq("t"), "v1")(build("v1"))
      assert(p1 == stage.toString && data(p1) == "v1#1")
      val p2 = DurableStage("spec_reuse", sf, Seq("t"), "v1")(build("v1"))
      assert(p2 == p1 && calls == 1, s"an unchanged stage was rebuilt ($calls builds)")
      val p3 = DurableStage("spec_reuse", sf, Seq("t"), "v2")(build("v2"))
      assert(calls == 2 && data(p3) == "v2#2", "a new spec version must rebuild the stage")
      DurableStage("spec_reuse", sf, Seq("t"), "v2")(build("v2"))
      assert(calls == 2)
    }
  }

  test("touching a source file rebuilds the stage") {
    withStage("spec_touch") { (sf, _) =>
      var calls = 0
      def stage() = DurableStage("spec_touch", sf, Seq("t"), "v1") { dir =>
        calls += 1; Files.write(Paths.get(dir, "data"), Array[Byte](1)): Unit
      }
      stage(); stage()
      assert(calls == 1)
      val src = new File(sf, "t.parquet")
      Files.write(src.toPath, Array[Byte](4, 5, 6, 7))
      src.setLastModified(src.lastModified + 5000): Unit
      stage()
      assert(calls == 2, "a rewritten source must rebuild the stage")
    }
  }

  test("source_csv_malformed follows a fixture regenerated at the same path") {
    val sf = Files.createTempDirectory("sf_badcsv_spec").toFile
    FileUtils.copyDirectory(new File(sf0001), sf)
    val orders = new File(sf, "orders.parquet")
    def expected(): Map[String, Long] = {
      val sub = spark.read.parquet(orders.getPath).filter(col("o_orderkey") % 7 === 0)
      val good = sub.count()
      val bad = sub.filter(col("o_orderkey") % 50 === 0).count()
      Map("dropmalformed_total" -> good, "permissive_corrupt" -> bad,
        "permissive_total" -> (good + bad))
    }
    def counts(): Map[String, Long] = {
      // the session's table readers hold the old file listing
      Shared.release(spark) { case ("table", p: String) => p.startsWith(sf.getPath) }
      Registry.queries("source_csv_malformed")(spark, sf.getPath)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val stage = new File("/tmp", s"${DurableStage.Prefix}badcsv_${sf.getName.replace(".", "_")}")
    try {
      val before = counts()
      assert(before == expected())
      // regenerate orders with fewer rows at the same path
      FileUtils.forceDelete(orders)
      spark.read.parquet(s"$sf0001/orders.parquet")
        .filter(col("o_orderkey") % 2 === 0).coalesce(1).write.parquet(orders.getPath)
      val after = counts()
      assert(after == expected(), s"stale stage served: $after")
      assert(after("permissive_total") < before("permissive_total"))
    } finally { FileUtils.deleteQuietly(sf); FileUtils.deleteQuietly(stage) }
  }

  test("a write that throws leaves the previous stage byte-identical, and " +
      "with no previous stage nothing exists at the final path") {
    withStage("spec_fail") { (sf, stage) =>
      var buildDirs = Seq.empty[String]
      def failing(dir: String): Unit = {
        buildDirs :+= dir
        Files.write(Paths.get(dir, "data"), "half".getBytes)
        throw new IllegalStateException("build failed")
      }
      intercept[IllegalStateException](DurableStage("spec_fail", sf, Seq("t"), "v1")(failing))
      assert(!Files.exists(stage), "a failed first build left something at the stage path")
      DurableStage("spec_fail", sf, Seq("t"), "v1") { dir =>
        Files.write(Paths.get(dir, "data"), "whole".getBytes): Unit
      }
      val before = snapshot(stage)
      intercept[IllegalStateException](DurableStage("spec_fail", sf, Seq("t"), "v2")(failing))
      assert(snapshot(stage) == before, "a failed rebuild touched the previous stage")
      assert(buildDirs.size == 2 && buildDirs.forall(d => !Files.exists(Paths.get(d))),
        s"failed build dirs left behind: $buildDirs")
    }
  }

  test("two threads racing on one stage both return a complete stage") {
    withStage("spec_race") { (sf, stage) =>
      (1 to 10).foreach { round =>
        val barrier = new CyclicBarrier(2)
        val pool = Executors.newFixedThreadPool(2)
        try {
          val futures = (1 to 2).map { i =>
            pool.submit(new Callable[String] {
              def call() = DurableStage("spec_race", sf, Seq("t"), s"v$round") { dir =>
                barrier.await(30, TimeUnit.SECONDS) // both builds are in flight
                Files.write(Paths.get(dir, "data"), s"round $round".getBytes)
                Files.write(Paths.get(dir, s"from_$i"), Array.empty[Byte]): Unit
              }
            })
          }
          val paths = futures.map(_.get(60, TimeUnit.SECONDS))
          assert(paths.forall(_ == stage.toString))
          assert(data(stage.toString) == s"round $round")
          val writers = snapshot(stage).keySet.filter(_.startsWith("from_"))
          assert(writers.size == 1, s"the stage mixes two builds: $writers")
          // the published stage carries the marker: the next call reuses it
          DurableStage("spec_race", sf, Seq("t"), s"v$round")(_ => fail("not reused"))
        } finally pool.shutdownNow(): Unit
      }
    }
  }

  test("a stage directory in the old layout (_SUCCESS, no marker) is rebuilt") {
    withStage("spec_old") { (sf, stage) =>
      Files.createDirectories(stage)
      Files.write(stage.resolve("_SUCCESS"), Array.empty[Byte])
      Files.write(stage.resolve("part-0"), "stale".getBytes)
      var calls = 0
      val p = DurableStage("spec_old", sf, Seq("t"), "v1") { dir =>
        calls += 1; Files.write(Paths.get(dir, "data"), "fresh".getBytes): Unit
      }
      assert(calls == 1 && data(p) == "fresh")
      assert(!Files.exists(stage.resolve("part-0")), "the old layout's files survived")
    }
  }

  test("one stage mechanism: no _SUCCESS/_SRC_FP check, stage path literal or " +
      "hand-rolled ATOMIC_MOVE outside DurableStage") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    def files(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val owner = new File(root, "thrivespark/DurableStage.scala").getCanonicalFile
    val banned = Seq("_SUCCESS", "_SRC_FP", "/tmp/graft_stage", "ATOMIC_MOVE")
    val hits = files(root).filterNot(_.getCanonicalFile == owner).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (l, i) if banned.exists(l.contains) => s"${f.getPath}:${i + 1}: ${l.trim}"
      }.toList finally src.close()
    }
    assert(hits.isEmpty, s"stage logic outside DurableStage:\n${hits.mkString("\n")}")
  }
}

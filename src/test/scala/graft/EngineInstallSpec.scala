package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite
import thrivespark.Registry

/** One engine install per session: `Registry` applies `functions.Register`
  * before every op, so a key's result never depends on which key (or which
  * test) installed the functions, rule or strategy first. */
class EngineInstallSpec extends AnyFunSuite {
  import SparkTestBase._

  private def rows(s: org.apache.spark.sql.SparkSession): Seq[String] =
    Registry.queries("stream_ann_query")(s, sf0001).collect().map(_.toString).toSeq.sorted

  private val root = new File("src/main/scala")
  private def files(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles.toSeq.flatMap(files)
    else if (f.getName.endsWith(".scala")) Seq(f) else Nil
  private def canon(p: String) = new File(root, p).getCanonicalFile
  private val isolation = "spark.sql.artifact.isolation.enabled"

  test("a key runs in a session that never called Register: stream_ann_query " +
      "with its stage reused, the similarity-join rewrite and the as-of strategy") {
    // the first run builds (or reuses) the annidx stage; the second, in
    // another fresh session, reuses it, the path that skips every op-side
    // function use before the stream starts
    val built = rows(spark.newSession())
    val reused = rows(spark.newSession())
    assert(built.nonEmpty, "stream_ann_query returned no rows")
    assert(reused == built, s"reused-stage run diverged: ${reused.size} vs ${built.size} rows")
    val fresh = spark.newSession()
    val sim = PlanShape.planString(Registry.queries("sim_join_rewrite")(fresh, sf0001))
    assert(sim.contains("__sim_salt_l"), s"sim_join_rewrite not rewritten:\n$sim")
    val asof = PlanShape.planString(Registry.queries("join_asof_native")(fresh, sf0001))
    assert(asof.contains("AsOfJoin"), s"join_asof_native without the as-of exec:\n$asof")
  }

  test("one install path: Register is called only by Registry, AsOf and " +
      "Bench's warm-up, and only Register touches spark.experimental or " +
      "registers a function") {
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    val callers = Set("thrivespark/Op.scala", "thrivespark/plans/AsOfJoin.scala",
      "graft/Bench.scala").map(canon)
    val owner = canon("thrivespark/functions/Register.scala")
    val installs = Seq("extraOptimizations", "extraStrategies", "createOrReplaceTempFunction")
    val hits = files(root).flatMap { f =>
      val c = f.getCanonicalFile
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (l, i) if (l.contains("functions.Register(") && !callers(c)) ||
            (c != owner && installs.exists(l.contains)) => s"${f.getPath}:${i + 1}: ${l.trim}"
      }.toList finally src.close()
    }
    assert(hits.isEmpty, s"a second install path under src/main/scala:\n${hits.mkString("\n")}")
  }

  test("Register turns session artifact isolation off in a new session, and " +
      "keeps a value the caller set") {
    // isolation gives each session, and each streaming clone of it, its own
    // executor classloader, and so its own codegen cache entries
    val fresh = spark.newSession()
    Registry.queries("stream_watermark_late")(fresh, sf0001).count()
    assert(fresh.conf.get(isolation) == "false", s"$isolation after a key ran")
    val pinned = spark.newSession()
    pinned.conf.set(isolation, "true")
    Registry.queries("scan_full")(pinned, sf0001).count()
    assert(pinned.conf.get(isolation) == "true", s"Register overrode the caller's $isolation")
  }

  test("the artifact-isolation setting lives only in Register") {
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    val owner = canon("thrivespark/functions/Register.scala")
    val hits = (files(root) ++ files(new File("perfbench/harness/src"))).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (l, i) if f.getCanonicalFile != owner &&
            (l.contains("artifact.isolation") || l.contains("ARTIFACTS_SESSION_ISOLATION")) =>
          s"${f.getPath}:${i + 1}: ${l.trim}"
      }.toList finally src.close()
    }
    assert(hits.isEmpty, s"$isolation set outside Register:\n${hits.mkString("\n")}")
  }
}

package thrivespark

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileSystemException, Files, Path, Paths, StandardCopyOption}
import org.apache.commons.io.FileUtils

/** Content-addressed stages under /tmp that live across runs: a staged copy
  * of fixture data (a stream source, a bucketed table, a planted dirty
  * feed) that an op reads instead of the fixture. This object alone decides
  * how a stage is named, whether it is current, and how it is published.
  *
  *  - Name: `/tmp/graft_stage_<name>_<sfTag>`, `sfTag` being the fixture
  *    dir's name with dots replaced. graft.Bench keeps every `/tmp` entry
  *    starting with `Prefix` and sweeps the rest.
  *  - Marker: a `_STAGE` file in the stage holding the fingerprint of each
  *    source table (`srcFingerprint`) and the spec version the call site
  *    passes. The stage is current only while the marker matches, so a
  *    regenerated fixture or a bumped version rebuilds it; a stage without a
  *    marker (an older layout) is rebuilt too.
  *  - Build-then-swap: `write` fills a fresh `Scratch.dir` (same filesystem
  *    as /tmp), the marker is written last, and the directory replaces the
  *    stage by atomic renames (`swap`). A reader never sees a half-written
  *    stage, and a failed build leaves the previous one untouched.
  *  - Races: a writer that finds a matching marker at publication time
  *    (another writer got there first) keeps that stage and drops its own.
  *
  * `swap` and `committed` also serve directories that are rewritten in
  * place rather than staged (a compaction's dataset, the CDC state table,
  * a bookmark file), so one piece of code replaces a directory. */
object DurableStage {
  val Prefix = "graft_stage_"
  private val Marker = "_STAGE"

  /** The current stage `name` of the fixture dir `sfDir`, built from the
    * tables `sources` of `sfDir` by `write(dir)` when absent or stale. A
    * change to what `write` produces must change `version`. */
  def apply(name: String, sfDir: String, sources: Seq[String], version: String)(
      write: String => Unit): String = {
    val target = Paths.get("/tmp",
      s"$Prefix${name}_${new java.io.File(sfDir).getName.replace(".", "_")}")
    val want = (sources.map(t => s"$t=${srcFingerprint(sfDir, t)}") :+
      s"version=$version").mkString("\n")
    if (!current(target, want)) {
      val tmp = Paths.get(Scratch.dir(s"stage_$name"))
      try {
        write(tmp.toString)
        Files.write(tmp.resolve(Marker), want.getBytes(UTF_8))
        publish(tmp, target, want)
      } finally FileUtils.deleteQuietly(tmp.toFile)
    }
    target.toString
  }

  // a racing writer may move the stage away between any two file calls
  private def current(stage: Path, want: String): Boolean =
    try new String(Files.readAllBytes(stage.resolve(Marker)), UTF_8) == want
    catch { case _: java.io.IOException => false }

  /** Swap `tmp` in unless a matching stage is already there. A rename that
    * fails because another writer moved the stage in between is retried
    * against what that writer left. */
  @annotation.tailrec
  private def publish(tmp: Path, target: Path, want: String, attempts: Int = 3): Unit =
    if (!current(target, want)) {
      val swapped = try { swap(tmp, target); true } catch {
        case _: FileSystemException if attempts > 1 => false
      }
      if (!swapped) publish(tmp, target, want, attempts - 1)
    }

  /** Replaces `target` with `built` by atomic renames; both must be on one
    * filesystem. A file is replaced in one rename. A directory cannot be
    * renamed over a non-empty one, so the old directory is renamed aside
    * (next to `built`), `built` is renamed in and the old one deleted.
    * Between the two renames the path is absent, never half-written; if the
    * second rename fails, the old directory is put back when nothing else
    * took its place. Renames keep the modification times of the files
    * inside, which a file stream source replays in. */
  def swap(built: Path, target: Path): Unit = {
    def move(from: Path, to: Path): Unit =
      Files.move(from, to, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    if (!Files.isDirectory(built)) move(built, target)
    else {
      val aside = built.resolveSibling(s"${built.getFileName}.old")
      FileUtils.deleteQuietly(aside.toFile)       // left by a crashed swap
      if (Files.exists(target)) move(target, aside)
      try move(built, target)
      catch {
        case e: FileSystemException if Files.exists(aside) && !Files.exists(target) =>
          move(aside, target)
          throw e
      } finally FileUtils.deleteQuietly(aside.toFile)
    }
  }

  /** Whether a Spark write into `dir` finished (its `_SUCCESS` file). For
    * directories rewritten in place; a stage is current only by its marker. */
  def committed(dir: String): Boolean = new java.io.File(dir, "_SUCCESS").isFile

  /** Source fingerprint for stage invalidation (r13 advisory): the staged
    * copies were keyed only on _SUCCESS existence, so a REGENERATED corpus
    * at the same path silently served stale staged rows while the batch
    * side and the oracle read the live table — a hard-to-trace
    * cross-engine mismatch. The fingerprint is the sorted
    * (name, length, mtime) listing of the source parquet dir, md5'd;
    * staging re-uses a staged copy only while it matches the marker
    * written at stage time. */
  def srcFingerprint(d: String, table: String): String = {   // public: StreamingSpec pins it
    val src = new java.io.File(d, s"$table.parquet")
    // a single-FILE parquet source used to fall through listFiles() → null
    // → the CONSTANT empty-listing hash, which matched its own marker
    // forever and silently disabled stale-stage invalidation (r15 advisory).
    // The walk is RECURSIVE (r17, closing the r16 advisory): a partitioned
    // parquet source keeps its part files in key=value subdirectories, so
    // a top-level-only listing saw zero files and fingerprinted the dir as
    // unlistable:<nanoTime> — indistinguishable from a failed listing and
    // re-staged on every access forever. Nested files are keyed by their
    // RELATIVE path so a row moving between partitions flips the hash.
    // depth-capped: parquet layouts are ≤ a few partition levels deep, and
    // the cap keeps a symlink cycle from recursing forever. A cap HIT is an
    // always-stale marker, like an unlistable source (r18, closing the r17
    // advisory): the capped dir's own mtime does NOT change when a file
    // deeper down does, so trusting it could serve a stale staged copy —
    // perpetual re-staging is the safe failure mode, staleness is not.
    // Names starting with '_' or '.' (_SUCCESS, _temporary, .crc) are
    // writer metadata, not data: including them made the hash flip on
    // transient mid-overwrite litter.
    def walk(f: java.io.File, rel: String, depth: Int): Seq[String] =
      if (f.isFile) Seq(s"$rel:${f.length}:${f.lastModified}")
      else if (depth <= 0) Seq(s"$rel:<depth-capped>:${System.nanoTime()}")
      else Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
        .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
        .flatMap(c => walk(c, if (rel.isEmpty) c.getName else s"$rel/${c.getName}",
          depth - 1))
    val entries: Option[Seq[String]] =
      if (src.isFile) Some(Seq(s"${src.getName}:${src.length}:${src.lastModified}"))
      else if (!src.isDirectory) None          // absent or unreadable root
      else Some(walk(src, "", 8).sorted)
    entries match {
      // absent/unreadable source: never match any stored marker (always
      // stale) so a listing failure re-stages instead of serving stale rows
      case None => s"unlistable:${System.nanoTime()}"
      // exists-but-no-files-yet (a not-yet-populated stream source) is a
      // DETERMINISTIC state, not a failure: a stable marker avoids the
      // perpetual-re-stage loop, and the hash flips as soon as files arrive
      case Some(es) if es.isEmpty => "empty-dir"
      case Some(es) =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(es.mkString("\n").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
    }
  }
}

package thrivespark

/** Ephemeral scratch dirs (streaming checkpoints, per-run sinks, bookmark
  * bases) nest under ONE parent, `/tmp/graft_eph`, instead of littering the
  * /tmp root: repeated runs used to leave hundreds of `graft_cp_*` entries
  * whose sheer count inflated directory operations for every later run
  * (measured ~15% on the bench total at r5). The /tmp root now holds only
  * the content-addressed durable stages plus this single parent; graft.Bench
  * age-sweeps inside it (entries idle >10 min) so concurrent live runs keep
  * their state while completed runs' litter is reclaimed. */
object Scratch {
  /** The one ephemeral parent; fixed-name per-run dirs nest here too. */
  val Root = java.nio.file.Paths.get("/tmp/graft_eph")

  /** A fresh unique dir under the ephemeral parent, e.g. dir("cp_wm"). */
  def dir(prefix: String): String = {
    java.nio.file.Files.createDirectories(Root)
    java.nio.file.Files.createTempDirectory(Root, prefix + "_").toString
  }

  private lazy val runTag =
    java.lang.Long.toHexString(ProcessHandle.current.pid ^ System.nanoTime())

  /** The sink `name` of fixture dir `sfDir` for this JVM, e.g.
    * sink("jsonl", d) = `/tmp/graft_eph/graft_jsonl_sf0_01_<tag>`. Every
    * call in one JVM returns the same path, so reruns overwrite it; the tag
    * differs per JVM, so two concurrent runs over the same fixture (a test
    * suite next to a bench) never write each other's sink. The op's result
    * reads the sink lazily, so nothing here deletes it: graft.Bench's age
    * sweep of `Root` does. The leaf is a valid table identifier. */
  def sink(name: String, sfDir: String): String =
    Root.resolve(s"graft_${name}_${new java.io.File(sfDir).getName.replace('.', '_')}_$runTag")
      .toString
}

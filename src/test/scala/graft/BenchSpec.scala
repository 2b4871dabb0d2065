package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft.Bench's record: the contamination label, the mid-run probe
  * cadence, the retry pick and the final line's length budget, all from
  * measurements the run itself takes; plus the I/O probe's scratch dir,
  * Verify's key check and QueryGuard. */
class BenchSpec extends AnyFunSuite {

  test("contaminated: one CPU or I/O probe over budget, one timeout or one " +
      "failure labels the record; all within budget stays clean") {
    // every probe of the 32-core BENCH_r22 record: all within budget, no
    // timeout, no failure — the record is clean by what it measured
    val cpu = Seq(0.733, 0.549) ++ Seq(1.352, 1.018, 0.826, 1.083, 0.883, 1.204, 0.924, 0.847)
    val io = Seq(1.015, 0.830) ++ Seq(1.213, 1.189, 0.712, 1.447, 2.711, 1.001, 0.863, 0.930)
    assert(!Bench.contaminated(cpu, io, 0, 0))
    // the budgets themselves are within budget (CPU 2 s, I/O 4 s)
    assert(!Bench.contaminated(Seq(2.0), Seq(4.0), 0, 0))
    assert(Bench.contaminated(cpu :+ 2.4, io, 0, 0), "one mid-run CPU probe over 2 s")
    // BENCH_r21's second mid-run I/O probe read 6.485 s
    assert(Bench.contaminated(cpu, io :+ 6.485, 0, 0), "one mid-run I/O probe over 4 s")
    assert(Bench.contaminated(cpu, io, 1, 0), "one timeout")
    assert(Bench.contaminated(cpu, io, 0, 1), "one failure")
  }

  test("probe cadence: the r12 contention window holds a mid-run probe " +
      "wherever the previous probe fell") {
    // BENCH_r12.json's CPU-steal window: 7 adjacent keys, each 4-25x its
    // clean time, that no bracketing probe saw. Per-key seconds in suite order.
    val window = Seq(7.586, 51.091, 17.142, 9.350, 12.143, 2.272, 13.730)
    // the time since the previous probe when the window starts: below the
    // cadence, or a probe would have followed the key before the window
    for (offset <- (0 until 40).map(_ * 0.5)) {
      assert(!Bench.probeDue(offset))
      // main's decision after each key: probe when due, then restart the clock
      var since = offset
      val probedAfter = window.indices.filter { i =>
        since += window(i)
        val due = Bench.probeDue(since)
        if (due) since = 0.0
        due
      }
      assert(probedAfter.exists(_ < window.size - 1),
        s"offset $offset s: probes after keys $probedAfter, none inside the window")
    }
  }

  test("retryPick: the 12 largest first attempts, in cost order") {
    // BENCH_r22_c8's six retried keys among cheaper ones
    val results = (1 to 20).map(i => s"cheap$i" -> (0.1 * i)) ++ Seq(
      "text_substring_incremental" -> 3.80, "pipeline_rag_retrieval" -> 32.36,
      "text_substring_coverage" -> 3.84, "sim_doc_topk_hashed" -> 6.26,
      "text_substring_maxdf" -> 2.91, "text_ngram_topk" -> 10.85)
    assert(Bench.retryPick(results).map(_._1) == Seq("pipeline_rag_retrieval", "text_ngram_topk",
      "sim_doc_topk_hashed", "text_substring_coverage", "text_substring_incremental",
      "text_substring_maxdf", "cheap20", "cheap19", "cheap18", "cheap17", "cheap16",
      "cheap15"))
    // ties by name; fewer keys than the cap retries them all
    assert(Bench.retryPick(Seq("b" -> 1.0, "a" -> 1.0, "c" -> 2.0)) ==
      Seq("c" -> 2.0, "a" -> 1.0, "b" -> 1.0))
  }

  test("finalLine (r22, r21 verdict item 4): >=39 per-key entries on a " +
      "224-key suite with the real registry names, inside the driver's " +
      "~2000-char stdout capture, for clean AND worst-case retried maps") {
    val keys = thrivespark.Registry.queries.keys.toSeq.sorted
    assert(keys.size >= 220, s"registry shrank? ${keys.size}")
    // an r21-like spread, scaled so every reading is 5 chars wide
    val results = keys.zipWithIndex.map { case (k, i) => k -> (12.5 + (i % 40) * 1.5) }
    // the non-query fields Bench.main writes, at widths above any real run
    def calib(retriedStr: String) =
      """"calibration_sec":[12.674,10.350],"io_sec":[10.765,10.436],""" +
      """"io_mid_max":106.485,"cpu_mid_max":101.150,"n_mid_probes":120,""" +
      s""""contaminated":false,"retried":$retriedStr,""" +
      """"n_timeout":10,"n_failed":10,"cleaned_tmp":1740"""
    def keptCount(line: String): Int =
      "\"[a-z0-9_]+\":[0-9]+\\.[0-9]{2}[,}]".r
        .findAllIn(line.substring(0, line.indexOf("\"queries_omitted\""))).size
    val sf = "/root/testdata/sf0.1"
    val total = 314.40992677300005
    // clean record: empty retried map
    val clean = Bench.finalLine(total, results, calib("{}"), sf, 2)
    assert(clean.length <= 1990, s"clean line ${clean.length} chars")
    assert(keptCount(clean) >= 39, s"clean coverage ${keptCount(clean)}")
    // worst case: a full 12-entry retried map of the longest registry names,
    // each at the 300 s timeout on both attempts
    val retried = keys.sortBy(k => (-k.length, k)).take(12)
      .map(k => s""""$k":[300.00,300.00]""").mkString("{", ",", "}")
    val worst = Bench.finalLine(total, results, calib(retried), sf, retried.length)
    assert(worst.length <= 1990, s"worst line ${worst.length} chars")
    assert(keptCount(worst) >= 39, s"worst-case coverage ${keptCount(worst)}")
  }

  test("Verify rejects an unknown key before it builds a session") {
    val out = s"${thrivespark.Scratch.Root}/verify_typo_${System.nanoTime()}"
    val e = intercept[IllegalArgumentException] {
      Verify.main(Array(SparkTestBase.sf0001, out, "typo_key"))
    }
    assert(e.getMessage.contains("typo_key"), e.getMessage)
    assert(!new java.io.File(out).exists, "Verify ran past its key check")
  }

  test("the I/O probe writes under its own Scratch dir and deletes it: " +
      "two concurrent probes neither collide nor leave an entry") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val spark = SparkTestBase.spark
    def graftRoots() = Option(new java.io.File("/tmp").list()).toSet.flatten
      .filter(_.startsWith("graft_"))
    def probeDirs() = Option(thrivespark.Scratch.Root.toFile.list()).toSet.flatten
      .filter(_.startsWith("ioprobe_"))
    val before = graftRoots()
    val probes = Await.result(Future.sequence(Seq.fill(2)(Future(Bench.ioProbeOnce(spark)))),
      5.minutes)
    assert(probes.forall(sec => sec > 0 && sec < 300), s"$probes")
    assert(graftRoots() -- before == Set.empty[String], "new /tmp root entries")
    assert(probeDirs().isEmpty, s"probe dirs left: ${probeDirs()}")
  }

  test("QueryGuard: success passes through, a hung query is cancelled and " +
      "the session survives") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    assert(QueryGuard.timed(spark, "ok", 60L) {
      spark.range(10).count()
    } == Right(10L))
    assert(QueryGuard.timed(spark, "boom", 60L) {
      throw new IllegalStateException("no")
    }.swap.exists(_.contains("IllegalStateException")))
    // a task parked far past the cap: the guard must return within the cap
    // (plus cancellation slack), cancel the job, and leave the session usable
    val t0 = System.nanoTime()
    val r = QueryGuard.timed(spark, "hang", 3L) {
      spark.range(1).as[Long].map { _ => Thread.sleep(600000); 1L }.count()
    }
    val waited = (System.nanoTime() - t0) / 1e9
    assert(r.swap.exists(_.startsWith("timed out")), s"got $r")
    assert(waited < 30, s"guard took $waited s to give up")
    assert(spark.range(5).count() == 5, "session unusable after cancellation")
  }

  test("QueryGuard restores the state-partition count StreamRunner.withStatePartitions " +
      "sets when it abandons a timed-out op") {
    import java.util.concurrent.CountDownLatch
    import thrivespark.streaming.StreamRunner
    val spark = SparkTestBase.spark
    def snapshot() = StreamRunner.ScopedConfKeys.map(k => k -> spark.conf.getOption(k))
    val before = snapshot()
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    try {
      val r = QueryGuard.timed(spark, "scoped_hang", 1L) {
        StreamRunner.withStatePartitions(spark, 3) {
          entered.countDown()
          // deaf to the guard's interrupt, so the wrapper's own finally
          // cannot be what puts the keys back
          var done = false
          while (!done)
            try { release.await(); done = true }
            catch { case _: InterruptedException => () }
        }
      }
      assert(entered.getCount == 0, "the op never entered the wrapper")
      assert(r.swap.exists(_.startsWith("timed out")), s"got $r")
      assert(snapshot() == before, s"conf after the timeout ${snapshot()} != $before")
    } finally release.countDown()
  }
}

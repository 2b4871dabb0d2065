package graft
import org.apache.spark.sql.SparkSession

/** Per-query liveness guard for the driver-run harnesses (Bench, Verify).
  *
  * Both harnesses already catch per-query EXCEPTIONS, but a per-query HANG
  * (observed live in r8: an Observation.get parked forever on a dropped
  * listener-bus event) stalls the whole run — for the driver that means no
  * official record at all, strictly worse than a contaminated one. Each
  * query therefore runs on a daemon thread with a generous wall-clock cap
  * (two orders above any clean per-query time, above even the historical
  * 11× contamination inflation, so it only ever fires on true liveness
  * loss). On expiry the query's Spark jobs are cancelled via its job
  * group, any streaming queries it started are stopped, and the harness
  * moves on with the query marked failed — the record completes and
  * self-labels instead of stalling. */
object QueryGuard {
  /** Runs `f` under `name`'s job group with a `timeoutSec` cap.
    * Left(reason) on failure or timeout, Right(result) on success. */
  def timed[A](spark: SparkSession, name: String, timeoutSec: Long)(
      f: => A): Either[String, A] = {
    val group = s"guard_$name"
    // ops (StreamRunner.withStatePartitions) mutate these session conf keys
    // with a worker-thread finally; if the worker is abandoned below, that
    // restore may never run (or fire asynchronously mid-flight during a
    // LATER query) — snapshot here so the caller thread can restore them
    val confPrev = thrivespark.streaming.StreamRunner.ScopedConfKeys
      .map(k => k -> spark.conf.getOption(k))
    @volatile var out: Either[String, A] = Left("did not run")
    @volatile var fatal: Throwable = null
    val th = new Thread(() => {
      // job group is thread-local — set it on the worker thread so the
      // watchdog can cancel exactly this query's jobs
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
      try out = Right(f)
      catch {
        case e if scala.util.control.NonFatal(e) =>
          out = Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        // a fatal JVM error (OOM, linkage) means NOTHING measured after
        // this point is trustworthy — propagate instead of benching on in
        // a broken JVM under a clean-looking record
        case e: Throwable => fatal = e
      }
      finally spark.sparkContext.clearJobGroup()
    }, s"query-guard-$name")
    th.setDaemon(true)
    th.start()
    th.join(timeoutSec * 1000)
    if (fatal != null) throw fatal
    if (!th.isAlive) out
    else {
      spark.sparkContext.cancelJobGroup(group)
      // a hung op may be inside a streaming replay; stop its queries so the
      // abandoned thread can't keep consuming executor slots
      spark.streams.active.foreach(q => scala.util.Try(q.stop()))
      th.interrupt()
      th.join(5000)
      thrivespark.streaming.StreamRunner.restoreConf(spark, confPrev)
      Left(s"timed out after ${timeoutSec}s (jobs cancelled)")
    }
  }
}

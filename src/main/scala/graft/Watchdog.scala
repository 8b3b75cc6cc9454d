package graft

/** Shared per-query watchdog for the Bench/Verify mains: one
  * pathological query must fail alone, not turn the whole round into a
  * global timeout (round-2 regression: rc=124, no JSON). */
private[graft] object Watchdog {

  /** Run `body` on a daemon thread with a wall-clock cap. Returns true
    * iff the body completed (successfully) in time.
    *
    * Each run gets its own Spark job group (set inside the worker
    * thread — job groups are thread-local properties), so a timeout
    * cancels exactly this query's jobs with interruptOnCancel=true and
    * cannot touch unrelated work sharing the session. A driver-side
    * hang (plan analysis, stringification) may still ignore the
    * interrupt and burn a core; the warning says so. */
  def run(spark: org.apache.spark.sql.SparkSession, tag: String,
      name: String, timeoutSec: Long)(body: => Unit): Boolean = {
    val group = s"$tag-$name-${System.nanoTime()}"
    @volatile var ok = false
    val worker = new Thread(() => {
      spark.sparkContext.setJobGroup(group, s"$tag $name",
        interruptOnCancel = true)
      try { body; ok = true }
      catch { case e: Throwable =>
        System.err.println(s"[$tag] $name failed: ${e.getMessage}")
      } finally spark.sparkContext.clearJobGroup()
    }, s"$tag-$name")
    worker.setDaemon(true)
    worker.start()
    worker.join(timeoutSec * 1000)
    if (worker.isAlive) {
      System.err.println(s"[$tag] $name timed out after ${timeoutSec}s; " +
        "cancelling its job group (a driver-side hang may survive and " +
        "skew later timings)")
      spark.sparkContext.cancelJobGroup(group)
      worker.interrupt()
    }
    ok
  }

  def timeoutSec: Long =
    GraftEnv.long("SPARK_GRAFT_QUERY_TIMEOUT_SEC", 240L, min = 1)
}

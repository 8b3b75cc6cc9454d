package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/**
 * The one gate in front of every exact driver kernel (the graph
 * fixpoints of [[LocalGraph]], the Lloyd loop, the classifier gradient
 * rounds, the tokenizer merge loops): collect a small relation and run
 * the kernel on the driver, or hand the relation to the distributed
 * form — the honest form once the relation outgrows the driver.
 *
 * Budget: `SPARK_GRAFT_DRIVER_BYTES` (default 64 MiB) bounds what one
 * gate collects. Each site states the fixed width of the row its
 * kernel or model holds, and its row cap is budget ÷ width ([[cap]]);
 * 0 forces every distributed arm. The cap is a row bound: the
 * collected `Row`s cost more than that width until they are decoded
 * (SCALE.md lists measured sizes). Sites keep a `driverCap` row-cap parameter so
 * specs can force either arm.
 *
 * Form: ONE bounded collect, `limit(cap + 1)` — at most `cap` rows is
 * the whole relation, one more means it is past the cap — so no count
 * job runs first. It is one job over a one-partition input; Spark
 * scans a many-partition input in rounds of growing size, one job
 * each. Where the collect reads from is decided on the
 * input's physical plan, found without running a job (the
 * [[FanOut]] check):
 *  - no exchange (a table or bucketed scan, or a snapshot): the
 *    collect reads the input directly, and the fallback gets the input
 *    as given;
 *  - an exchange: the input is snapshotted once through
 *    [[DedupOps.reliableTruncate]], so the collect and the fallback do
 *    not each re-run the derivation. The snapshot is released when the
 *    kernel answers and handed to the fallback otherwise.
 *
 * The kernel may decline (None: a work budget, an overflow, an input
 * its exact form does not cover); the fallback then runs on the same
 * frame. One INFO line logs each decision.
 *
 * A model build with no distributed arm (a live topology's offline
 * model, broadcast to every executor) uses the refusing form,
 * [[collect]]: the same bounded collect, which throws past the cap and
 * names the batch query that keeps the model distributed.
 */
object DriverGate extends AdaptiveSparkPlanHelper {

  /** Driver bytes one gate may collect. */
  lazy val Budget: Long = budget(sys.env)

  private[graft] def budget(env: collection.Map[String, String]): Long =
    graft.GraftEnv.long("SPARK_GRAFT_DRIVER_BYTES", 64L << 20, min = 0, env)

  /** Fixed widths, in bytes, of the decoded rows the sites hold. */
  val PairBytes = 16 // (long, long): an edge, an (id, hash)
  val TripleBytes = 24 // (long, long, long): a weighted edge, an (id, frame, hash)
  val KmVectorBytes = 8 + 4 * 64 // vec_id + a 64-dim float vector
  val ClassifierRowBytes = 36 // four longs and an int
  val VocabRowBytes = 100 // a string-keyed model row, e.g. (word, freq)
  val LongBytes = 8 // one hash of a sorted long array

  /** Row cap of a site collecting `rowBytes`-wide rows. */
  def cap(rowBytes: Int): Long = Budget / rowBytes

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Keeps the INFO decision lines under a WARN root level (Verify, Bench). */
  def logDecisions(): Unit = org.apache.logging.log4j.core.config.Configurator
    .setLevel(getClass.getName, org.apache.logging.log4j.Level.INFO)

  /** `cap` clamped to what one JVM array holds; 0 or less collects
   *  nothing. */
  private def take(cap: Long): Int =
    math.max(0L, math.min(cap, Int.MaxValue - 1L)).toInt

  /** The rows of `bounded` (an input's `limit(n + 1)`) when there are
   *  at most `n`; None past them, or at n = 0 without a job. */
  private def upTo(bounded: => DataFrame, n: Int): Option[Array[Row]] =
    if (n > 0) Some(bounded.collect()).filter(_.length <= n) else None

  private def logged(site: String, n: Int, cap: Long,
      rows: Option[Array[Row]], outcome: String): Unit =
    log.info("DriverGate {}: {}, cap {}, {}", site,
      rows.fold(if (n > 0) "over cap" else "no collect")(
        r => s"${r.length} rows"), cap.toString, outcome)

  /** Right(kernel result) on the driver arm; Left(frame) for the
   *  distributed fallback — the snapshot when one was taken, else `df`
   *  itself. */
  def apply[A: ClassTag, R](site: String, df: DataFrame, cap: Long)(
      decode: Row => A)(kernel: Array[A] => Option[R])
      : Either[DataFrame, R] = {
    val n = take(cap)
    // the bounded collect's own plan shows whether the input holds an
    // exchange, so an input read directly is planned once
    val bounded = df.limit(n + 1)
    val snapshot = find(bounded.queryExecution.executedPlan) {
      case _: Exchange | _: ReusedExchangeExec => true
      case _ => false
    }.isDefined
    val src = if (snapshot) DedupOps.reliableTruncate(df) else df
    val rows = upTo(if (snapshot) src.limit(n + 1) else bounded, n)
    val out = rows.flatMap(r => kernel(r.map(decode)))
    logged(site, n, cap, rows,
      if (out.isDefined) "driver arm" else "distributed arm")
    out match {
      case Some(r) =>
        if (snapshot) DedupOps.releaseTruncated(src)
        Right(r)
      case None => Left(src)
    }
  }

  /** The refusing form, for a model build with no distributed arm (a
   *  live topology's offline model): the same bounded collect, with no
   *  snapshot since nothing falls back. Past `cap` rows, or at a cap of
   *  0, it throws, naming the site, the cap and `instead`, the batch
   *  query that keeps the model distributed. */
  def collect(site: String, df: DataFrame, cap: Long,
      instead: String): Array[Row] = {
    val n = take(cap)
    val rows = upTo(df.limit(n + 1), n)
    logged(site, n, cap, rows, if (rows.isDefined) "driver arm" else "refused")
    rows.getOrElse(throw new IllegalArgumentException(
      s"$site model exceeds its driver cap of $cap rows" +
        (if (n > 0) s" (it holds at least ${cap + 1})" else "") +
        "; the cap is the driver byte budget over the row width, and a " +
        "broadcast past it risks driver and executor memory; use the " +
        s"batch $instead, which keeps the model distributed"))
  }
}

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
 * gate collects. Each site states the fixed width of the row it
 * collects, and its row cap is budget ÷ width ([[cap]]); 0 forces
 * every distributed arm. Sites keep a `driverCap` row-cap parameter so
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
 */
object DriverGate extends AdaptiveSparkPlanHelper {

  /** Driver bytes one gate may collect. */
  lazy val Budget: Long = budget(sys.env)

  private[graft] def budget(env: collection.Map[String, String]): Long =
    graft.GraftEnv.long("SPARK_GRAFT_DRIVER_BYTES", 64L << 20, min = 0, env)

  /** Fixed widths, in bytes, of the rows the sites collect. */
  val PairBytes = 16 // (long, long) edges
  val TripleBytes = 24 // (long, long, long) weighted edges
  val KmVectorBytes = 8 + 4 * 64 // vec_id + a 64-dim float vector
  val ClassifierRowBytes = 36 // four longs and an int
  val VocabRowBytes = 100 // (word, freq): ~100 MB per 1M words

  /** Row cap of a site collecting `rowBytes`-wide rows. */
  def cap(rowBytes: Int): Long = Budget / rowBytes

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Right(kernel result) on the driver arm; Left(frame) for the
   *  distributed fallback — the snapshot when one was taken, else `df`
   *  itself. `cap` is clamped to what one JVM array holds; a cap
   *  of 0 or less collects nothing. */
  def apply[A: ClassTag, R](site: String, df: DataFrame, cap: Long)(
      decode: Row => A)(kernel: Array[A] => Option[R])
      : Either[DataFrame, R] = {
    val take = math.max(0L, math.min(cap, Int.MaxValue - 1L)).toInt
    // the bounded collect's own plan shows whether the input holds an
    // exchange, so an input read directly is planned once
    val bounded = df.limit(take + 1)
    val snapshot = find(bounded.queryExecution.executedPlan) {
      case _: Exchange | _: ReusedExchangeExec => true
      case _ => false
    }.isDefined
    val src = if (snapshot) DedupOps.reliableTruncate(df) else df
    val rows =
      if (take > 0)
        Some((if (snapshot) src.limit(take + 1) else bounded).collect())
          .filter(_.length <= take)
      else None
    val out = rows.flatMap(r => kernel(r.map(decode)))
    val seen = rows.fold(if (take > 0) "over cap" else "no collect")(
      r => s"${r.length} rows")
    log.info("DriverGate {}: {}, cap {}, {} arm", site, seen, cap.toString,
      if (out.isDefined) "driver" else "distributed")
    out match {
      case Some(r) =>
        if (snapshot) DedupOps.releaseTruncated(src)
        Right(r)
      case None => Left(src)
    }
  }
}

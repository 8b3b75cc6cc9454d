package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/**
 * Conditional fan-out for heavy row-local stages over narrow scans.
 *
 * The dedup/tfidf/multimodal pipelines all start with an expensive
 * per-row stage (shingle hashing, word explode, blob decode) whose
 * parallelism is inherited from the input's partition layout. Locally
 * an sf0.1 parquet table arrives as ONE scan split, which would
 * serialize the kernel on a single core. But at 100 TB the same scan
 * already has tens of thousands of splits, and an unconditional
 * `repartition` there is a full-corpus shuffle of raw text/blob bytes
 * that buys nothing — the exact opposite of the "documents never
 * shuffle" design rule the rest of these files follow.
 *
 * So: repartition to the session shuffle parallelism ONLY when the
 * input is actually narrower than it. The width check plans the
 * input's physical RDD once at query build (for a file scan that is
 * file listing + split math — no job runs); a wide input passes
 * through untouched, so the fan-out exchange simply does not exist in
 * the plan at scale (PlanShapeSpec pins both shapes). Output is
 * plan-invariant either way — all oracle-gated queries downstream
 * hash identically with or without the exchange.
 *
 * Contract: call this on SCAN-STAGE frames only (a source relation
 * plus row-local projections/filters — which is every call site: the
 * heavy kernel is always the first thing after the scan). A frame
 * with an upstream exchange would make the width probe finalize that
 * exchange's query stage under AQE; such a frame is also already
 * shuffle-partition wide, so it has nothing to gain here. The contract
 * is enforced: an input whose physical plan already holds an exchange
 * throws IllegalArgumentException before the width probe runs.
 */
object FanOut extends AdaptiveSparkPlanHelper {

  /** `df` repartitioned to the session shuffle parallelism when — and
   *  only when — its physical layout is narrower than that. Throws
   *  IllegalArgumentException if `df` is not a scan-stage frame. */
  def fanOut(df: DataFrame): DataFrame = {
    // planning the physical plan runs no job; only toRdd below would
    // finalize an upstream AQE stage
    find(df.queryExecution.executedPlan) {
      case _: Exchange | _: ReusedExchangeExec => true
      case _ => false
    }.foreach { exchange =>
      throw new IllegalArgumentException(
        "FanOut.fanOut takes scan-stage frames only, but the input plan " +
          s"already holds an exchange (${exchange.nodeName})")
    }
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.queryExecution.toRdd.getNumPartitions < parts) df.repartition(parts)
    else df
  }
}

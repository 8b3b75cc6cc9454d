package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Bridge to the package-private Column <-> catalyst Expression
 * converters (Spark 4 moved them behind `classic.ExpressionUtils`,
 * which is private[sql]). Same pattern as other Spark extension
 * libraries that expose custom Catalyst expressions as Columns.
 */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eager localCheckpoint that PRESERVES a hash partitioning on
   *  `keys`: repartitions with an EXPLICIT partition count (a pinned
   *  count keeps AQE from coalescing the exchange, so the claimed
   *  partitioning is exactly the physical one), materializes the
   *  internal RDD as a local checkpoint, and rebuilds the frame over a
   *  [[execution.LogicalRDD]] that CARRIES the HashPartitioning.
   *  `Dataset.localCheckpoint` itself always records
   *  UnknownPartitioning under AQE (AdaptiveSparkPlanExec never
   *  exposes the final stage's partitioning), which forces every
   *  downstream keyed aggregate/join over the snapshot to re-Exchange
   *  — the per-round shuffle the iterative graph engines paid. The
   *  returned frame obeys the full checkpoint-handle contract
   *  (releaseTruncated, ContextCleaner GC fallback, tiny plan).
   *  Correct for any consumer: the recorded partitioning is the
   *  physically true modulo mapping, so even independently shuffled
   *  co-partition joins align. */
  def localCheckpointHashPartitioned(df: DataFrame,
      keys: Seq[String], eager: Boolean = true,
      numPartitions: Option[Int] = None): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    // explicit count for scale-adaptive callers
    // (DedupOps.checkpointHashPartitionedAdaptive); the session's
    // shuffle width otherwise
    val n = numPartitions.getOrElse(session.sessionState.conf.numShufflePartitions)
    val rep = ds.repartition(n, keys.map(ds.col): _*)
      .asInstanceOf[classic.Dataset[Row]]
    val qe = rep.queryExecution
    val internalRdd = qe.toRdd.map(_.copy())
    internalRdd.localCheckpoint()
    // eager = Dataset.localCheckpoint(eager) semantics; lazy defers
    // materialization to the frame's first action (plan inspection and
    // topology wiring stay free — the dedupEval shh rationale)
    if (eager) { internalRdd.count(); () }
    val attrs = qe.analyzed.output
    val keyAttrs = keys.map(k => attrs.find(_.name == k).getOrElse(
      throw new IllegalArgumentException(
        s"localCheckpointHashPartitioned: no column '$k' in " +
          attrs.map(_.name).mkString(", "))))
    val part = catalyst.plans.physical.HashPartitioning(keyAttrs, n)
    classic.Dataset.ofRows(session,
      execution.LogicalRDD(attrs, internalRdd, part)(session))
  }
}

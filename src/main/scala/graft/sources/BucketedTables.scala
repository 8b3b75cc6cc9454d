package graft.sources

import org.apache.spark.sql.DataFrame

/**
 * Bucketed managed tables — the co-located join/aggregation path at
 * 100 TB. A fact table bucketed (and sorted) on its join key pays its
 * shuffle ONCE at write time; after that, every equi-join against a
 * table bucketed the same way, and every aggregation keyed on the
 * bucket column, runs without an Exchange: Catalyst recognizes the
 * bucket layout as a valid `HashPartitioning` and plans bucket-local
 * sort-merge joins / aggregations. That turns the per-query shuffle of
 * the biggest table in a workload into a one-time cost amortized over
 * the whole query mix (the classic warehouse layout decision).
 *
 * The reference has no storage layer at all (SURVEY.md §2.2 — results
 * are logged, state is heap); bucketing is part of what "Spark-first at
 * scale" adds. Verified by BucketedTablesSpec: the joined plan must
 * contain no Exchange on either bucketed side.
 */
object BucketedTables {

  /** Write `df` as a bucketed + in-bucket-sorted managed parquet table.
    * `buckets` must match on both sides of a co-located join (Spark
    * only elides the shuffle when the bucket counts line up). */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write
      .bucketBy(buckets, key)
      .sortBy(key)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)
}

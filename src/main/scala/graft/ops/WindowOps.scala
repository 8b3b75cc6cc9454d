package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Windowed operators: the reference's SlidingWindow machinery
 * (tools/SlidingWindow.java:32-188, lib/bolt/RollingBolt.java:45-67)
 * re-expressed as Spark time windows. The slot ring buffer, incremental
 * eviction and zero-compaction are Spark's state-store/window internals —
 * deliberately not reimplemented (SURVEY.md §2.10).
 *
 * Batch forms here; the same expressions run under Structured Streaming
 * with `withWatermark` (graft.streaming).
 */
object WindowOps {

  /**
   * Sliding-window count per key. Reference: RollingCountBolt
   * (lib/bolt/RollingCountBolt.java:38-86); window length / slide are
   * decoupled exactly like winLen/emitFreq (slot count = winLen/emitFreq).
   * Output: (w_start, <key>, cnt).
   */
  def slidingCount(df: DataFrame, ts: Column, key: Column, keyName: String,
      winLen: String, slide: String): DataFrame =
    df.groupBy(window(ts, winLen, slide).as("w"), key.as(keyName))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("w_start"), col(keyName), col("cnt"))

  /**
   * Sliding-window exact distinct per key. Reference: UniqueVisitorBolt
   * (lib/bolt/UniqueVisitorBolt.java:36-93) — its cache-then-fold is
   * partial aggregation, which Catalyst's partial/final HashAggregate
   * already performs.
   */
  def windowedDistinct(df: DataFrame, ts: Column, key: Column, keyName: String,
      item: Column, winLen: String, slide: String): DataFrame =
    df.groupBy(window(ts, winLen, slide).as("w"), key.as(keyName))
      .agg(count_distinct(item).as("uniques"))
      .select(col("w.start").as("w_start"), col(keyName), col("uniques"))

  /**
   * Skew-resistant EXACT distinct per key: salt stage-1 by a hash of the
   * item (so each distinct item lands in exactly one salt bucket — the
   * per-bucket exact distinct counts partition the true count), then sum
   * buckets in stage 2. A hot key's state splits across `salts` reducers
   * instead of melting one; both shuffles carry aggregated rows only.
   * Equality with the unsalted form is property-tested.
   */
  def saltedDistinct(df: DataFrame, key: Column, keyName: String, item: Column,
      salts: Int = 16): DataFrame =
    df.groupBy(key.as(keyName), pmod(xxhash64(item), lit(salts)).as("__salt"))
      .agg(count_distinct(item).as("partial"))
      .groupBy(keyName)
      .agg(sum("partial").as("uniques"))

  /**
   * Latest row per key: argmax over `orderCols` (lexicographic; include a
   * tiebreaker column for determinism). Reference: RollingLatLongBolt /
   * LatLongReducer newest-PosTime-wins (lib/reducer/LatLongReducer.java:24-52)
   * and DistFilterBolt's freshest-position map (RollingFlightDist.java:216-218).
   *
   * Implemented as a single two-phase hash aggregate (`max(struct(...))`),
   * NOT a window-function rank — one shuffle on the key, no sort, and
   * partial aggregation runs map-side. This is the plan you want at 100 TB.
   */
  def latestPerKey(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    val payload = orderCols ++ df.columns.filterNot((keyCols ++ orderCols).contains)
    df.groupBy(keyCols.map(col): _*)
      .agg(max(struct(payload.map(col): _*)).as("latest"))
      .select(keyCols.map(col) ++ payload.map(c => col(s"latest.$c").as(c)): _*)
  }

  /**
   * Per-window ascending top-k with rank. Reference: RollingSort.SortBolt
   * (RollingSort.java:59-142) sorts the window's chunk each tick and logs
   * the top rows. Output adds (w_start, rn).
   *
   * rank-within-group needs a sort per window partition; Spark's
   * WindowExec sorts once per shuffle partition (not a global sort).
   * A `limit`-style TakeOrderedAndProject applies only to global top-k —
   * see `globalTopK`.
   */
  def topKPerWindow(df: DataFrame, ts: Column, winLen: String, k: Int,
      order: Seq[Column]): DataFrame = {
    val withW = df.withColumn("w_start", window(ts, winLen).getField("start"))
    val rank = row_number().over(
      Window.partitionBy(col("w_start")).orderBy(order: _*))
    withW.withColumn("rn", rank.cast("bigint")).filter(col("rn") <= k)
  }

  /** Global top-k: the reference's globalGrouping + single sort task
   *  (RollingFlightDist.java:322-324). Spark plans orderBy+limit as
   *  TakeOrderedAndProject: per-partition top-k then a single merge —
   *  no global sort, no single-task bottleneck. */
  def globalTopK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)

  /**
   * Count-based last-N sort: ring-buffer parity with the reference's
   * SortBolt, which overwrites the oldest of `chunkSize` slots per
   * arrival and sorts the surviving chunk each tick
   * (RollingSort.java:70-71,120-127). The time-window form above
   * ([[topKPerWindow]]) is the scale-native reading; this one keeps the
   * reference's exact "last N ARRIVALS" semantics.
   *
   * Shape: "last n arrivals" = top-n by arrival order descending —
   * planned as TakeOrderedAndProject (per-partition top-n, single
   * merge; no global sort). The final rank over the surviving <= n rows
   * is an array_sort + posexplode of one collected chunk — bounded at n
   * elements by construction (n plays chunkSize, which the reference
   * also holds in one task's heap), and window-exec-free.
   *
   * @param arrival arrival-order columns, newest = greatest (include a
   *                tiebreaker for determinism)
   * @param sortFields output columns, ranked lexicographically ascending
   */
  def lastNSorted(df: DataFrame, arrival: Seq[Column], n: Int,
      sortFields: Seq[String]): DataFrame =
    df.orderBy(arrival.map(_.desc): _*).limit(n)
      .agg(sort_array(collect_list(struct(sortFields.map(col): _*))).as("chunk"))
      .select(posexplode(col("chunk")))
      .select((col("pos") + 1).cast("bigint").as("rn") +:
        sortFields.map(f => col(s"col.$f").as(f)): _*)
}

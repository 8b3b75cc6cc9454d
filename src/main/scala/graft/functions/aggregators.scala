package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/**
 * Typed aggregators mirroring the reference's Reducer / CombinerAggregator
 * monoid contract (lib/reducer/Reducer.java:23-27). Spark's
 * `Aggregator[IN, BUF, OUT]` has the same shape: zero / reduce / merge.
 */

/** Trident `Count` + `One` (lib/operation/One.java:24-39,
 *  TridentWordCount.java:47-49): count-one combiner. */
class CountAggregator[IN] extends Aggregator[IN, Long, Long] {
  def zero: Long = 0L
  def reduce(b: Long, a: IN): Long = b + 1L
  def merge(b1: Long, b2: Long): Long = b1 + b2
  def finish(b: Long): Long = b
  def bufferEncoder: Encoder[Long] = Encoders.scalaLong
  def outputEncoder: Encoder[Long] = Encoders.scalaLong
}

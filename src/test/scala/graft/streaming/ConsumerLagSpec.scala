package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

class ConsumerLagSpec extends SparkSpec {

  test("offsetSum handles rate-source longs, Kafka objects, and junk") {
    val l = new ConsumerLagListener
    assert(l.offsetSum("42") == Some(42L))
    assert(l.offsetSum(" -3 ") == Some(-3L))
    // Kafka-style per-partition offsets: sum of values, keys ignored
    assert(l.offsetSum("""{"view":{"0":100,"1":23}}""") == Some(123L))
    assert(l.offsetSum("""{"t":{"0":5},"u":{"0":7,"1":1}}""") == Some(13L))
    assert(l.offsetSum(null).isEmpty)
    assert(l.offsetSum("").isEmpty)
    assert(l.offsetSum("not-an-offset").isEmpty)
    assert(l.offsetSum("{}").isEmpty)
    // numerics embedded in STRING leaves (timestamps, metadata) must not
    // pollute the sum — the old colon-digits regex would return 12 here
    assert(l.offsetSum("""{"ts":"2024-01-01T00:00:12"}""").isEmpty)
    assert(l.offsetSum("""{"meta":"v2:99","t":{"0":5}}""") == Some(5L))
    // fractional leaves are not offsets; malformed JSON is not countable
    assert(l.offsetSum("""{"watermark":1.5}""").isEmpty)
    assert(l.offsetSum("""{"t":{"0":5""").isEmpty)
    // ANY fractional numeric leaf poisons the whole blob: the blob is
    // not a message count, and summing only the integral remainder
    // would understate the backlog silently
    assert(l.offsetSum("""{"a":1.5,"b":2}""").isEmpty)
    assert(l.offsetSum("""{"t":{"0":5,"wm":0.25},"u":{"0":7}}""").isEmpty)
    // a long-overflowing integral leaf is equally uncountable
    assert(l.offsetSum("""{"a":123456789012345678901234567890,"b":2}""").isEmpty)
  }

  test("listener records per-trigger lag samples for a rate query") {
    val listener = new ConsumerLagListener
    spark.streams.addListener(listener)
    val ckpt = tempDir("lag-ckpt")
    val q = spark.readStream.format("rate")
      .option("rowsPerSecond", 100).load()
      .select(col("value"))
      .writeStream.format("noop")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .start()
    try {
      // wait until at least two non-empty triggers completed
      val deadline = System.currentTimeMillis() + 30000
      while (listener.samples(q.runId).count(_.rows > 0) < 2 &&
          System.currentTimeMillis() < deadline) Thread.sleep(200)
      val samples = listener.samples(q.runId).filter(_.rows > 0)
      assert(samples.size >= 2, s"only ${samples.size} samples recorded")
      // rate source reports latestOffset, so lag must be defined and sane
      // (consumed offset can't be ahead of available)
      assert(samples.forall(_.lag.exists(_ >= 0L)),
        s"lags: ${samples.map(_.lag)}")
      assert(samples.forall(_.batchId >= 0))
    } finally {
      try q.stop() catch { case _: Throwable => }
      spark.streams.removeListener(listener)
    }
  }

  test("rate-limited source registers backlog and drains it " +
      "(offsets_monitor.py:60-72 semantics)") {
    // admission below availability is the deterministic form of
    // maxOffsetsPerTrigger < generation rate: a 50-row pre-built
    // backlog consumed 10 rows per trigger must show positive lag that
    // decreases to 0 as the queue drains. (Spark's built-in local
    // sources can never show this — rate consumes all-available every
    // trigger and file reports no latest offset — which is why the
    // ThrottledSeqSource exists.)
    val listener = new ConsumerLagListener
    spark.streams.addListener(listener)
    val ckpt = tempDir("lag-drain-ckpt")
    val q = spark.readStream
      .format(classOf[graft.sources.ThrottledSeqSource].getName)
      .option("totalRows", 50).option("maxRowsPerTrigger", 10).load()
      .writeStream.format("noop")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      val lags = listener.samples(q.runId).filter(_.rows > 0).flatMap(_.lag)
      // 5 draining triggers: 40, 30, 20, 10, 0 rows behind
      assert(lags == Seq(40L, 30L, 20L, 10L, 0L), s"lag series: $lags")
    } finally {
      try q.stop() catch { case _: Throwable => }
      spark.streams.removeListener(listener)
    }
  }

  test("throttled source delivers the exact sequence once, in parallel splits") {
    import spark.implicits._
    val listener = new ConsumerLagListener
    spark.streams.addListener(listener)
    val ckpt = tempDir("seq-once-ckpt")
    val q = spark.readStream
      .format(classOf[graft.sources.ThrottledSeqSource].getName)
      .option("totalRows", 1000).option("maxRowsPerTrigger", 300)
      .option("numPartitions", 7)
      .load()
      .writeStream.format("memory").queryName("seq_once")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      // exactly-once across chunked parallel reads and 4 admitted
      // batches: every value 0..999 exactly one time
      val got = spark.table("seq_once").as[Long].collect().sorted
      assert(got.toSeq == (0L until 1000L))
    } finally {
      try q.stop() catch { case _: Throwable => }
      spark.streams.removeListener(listener)
    }
  }
}

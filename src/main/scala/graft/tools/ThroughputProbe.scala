package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.ops.{AdsbOps, PageViewOps, TextOps}
import graft.sources.Generators
import graft.streaming.{ConsumerLagListener, StreamOps}

/** Dev tool: sustained streaming throughput (rows/s) per topology on
  * the rate-source generators — the reference's figure of merit
  * (BASELINE.md: broker msgs/s). The rate source is set far above
  * processing capacity, so processedRowsPerSecond reflects what the
  * pipeline actually sustains; the first triggers are dropped (codegen
  * warmup). Pass topology names as args to probe a subset.
  */
object ThroughputProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession("graft-throughput-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val offered = 5000000 // rows/s offered; far above sustainable
    val wanted: String => Boolean =
      if (args.isEmpty) _ => true else args.toSet

    // offset-lag series per trigger — the reference's saturation metric
    // (offsets_monitor.py:60-72): growing lag = the topology can't keep up
    val lagListener = new ConsumerLagListener
    spark.streams.addListener(lagListener)

    def report(name: String, q: org.apache.spark.sql.streaming.StreamingQuery,
        sleepMs: Long): Unit = {
      Thread.sleep(sleepMs)
      val rps = q.recentProgress.drop(2).map(_.processedRowsPerSecond)
        .filter(v => !v.isNaN && v > 0)
      // stop() can race an in-flight state-store commit and rethrow the
      // stream's exception; the measurement is already taken by then
      try q.stop() catch { case _: Throwable => }
      val avg = if (rps.nonEmpty) rps.sum / rps.length else 0.0
      println(f"[tp] $name%-18s ${avg / 1e6}%6.2f M rows/s (${rps.length} triggers)")
      val lags = lagListener.samples(q.runId).flatMap(_.lag)
      if (lags.nonEmpty)
        // rate source offsets are SECONDS of generated data; a saturated
        // probe is EXPECTED to trail (offered >> sustainable) — the
        // signal is the slope across the series, flat = keeping up
        println(s"[lag] $name lag series (s of data behind): " +
          s"${lags.take(12).mkString(", ")}" +
          (if (lags.sizeIs > 12) ", ..." else ""))
    }

    /** One topology, isolated: a failure prints and the sweep continues. */
    def measure(name: String, mode: OutputMode, sleepMs: Long = 45000)(
        df: => DataFrame): Unit = if (wanted(name)) {
      val ckpt = Files.createTempDirectory(s"tp-$name")
      try {
        val q = df.writeStream.format("noop").outputMode(mode)
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.ProcessingTime("5 seconds"))
          .start()
        report(name, q, sleepMs)
      } catch { case e: Throwable =>
        println(s"[tp] $name FAILED: ${e.getClass.getSimpleName} ${e.getMessage}")
      } finally org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile)
    }

    /** foreachBatch variant for per-trigger batch actions (sort). */
    def measureForeachBatch(name: String, sleepMs: Long = 45000)(
        df: => DataFrame)(onBatch: (DataFrame, Long) => Unit): Unit =
      if (wanted(name)) {
        val ckpt = Files.createTempDirectory(s"tp-$name")
        try {
          val q = df.writeStream
            .option("checkpointLocation", ckpt.toString)
            .trigger(Trigger.ProcessingTime("5 seconds"))
            .foreachBatch(onBatch)
            .start()
          report(name, q, sleepMs)
        } catch { case e: Throwable =>
          println(s"[tp] $name FAILED: ${e.getClass.getSimpleName} ${e.getMessage}")
        } finally org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile)
      }

    val wm = "0 seconds"

    measure("wordcount", OutputMode.Update) {
      StreamOps.runningCount(
        TextOps.splitWords(
          Generators.randomMessageStream(spark, offered).toDF("ts", "value"),
          col("value")),
        col("word"), "word")
    }
    // grep: regex filter + running global match count (pattern "123"
    // hits ~10% of random digit messages — the filter truly runs)
    measure("grep", OutputMode.Update) {
      TextOps.grepCount(
        Generators.randomMessageStream(spark, offered).toDF("ts", "message"),
        col("message"), "123")
    }
    // sol: identity chain — stateless narrow pipeline, append mode
    measure("sol", OutputMode.Append) {
      TextOps.constChain(
        Generators.randomMessageStream(spark, offered).toDF("ts", "message"),
        col("message"), levels = 3)
    }
    // dataclean: TSV parse + status filter, stateless
    measure("dataclean", OutputMode.Append) {
      val pv = PageViewOps.parse(
        Generators.pageViewStream(spark, offered), col("page_view"))
      PageViewOps.filterNot(pv, col("http_status"), 200,
        col("url"), col("user_id"))
    }
    measure("pageview_count", OutputMode.Update) {
      StreamOps.runningCount(
        PageViewOps.parse(
          Generators.pageViewStream(spark, offered).toDF("ts", "value"), col("value")),
        col("url"), "url")
    }
    // unique_visitor: sliding approx distinct users per url (the
    // fixed-size-state 100 TB path; exact is the batch oracle form)
    measure("unique_visitor", OutputMode.Update) {
      StreamOps.slidingApproxDistinct(
        PageViewOps.parse(Generators.pageViewStream(spark, offered), col("page_view")),
        "ts", col("url"), "url", col("user_id"),
        "60 seconds", "10 seconds", wm)
    }
    measure("rolling_count", OutputMode.Update) {
      StreamOps.slidingCount(
        Generators.pageViewStream(spark, offered).toDF("ts", "value")
          .select(col("ts"), col("value")),
        "ts", substring(col("value"), 1, 8), "key", "60 seconds", "10 seconds", wm)
    }
    // rolling_hashtag: pipe-split + hashtag explode + sliding count
    measure("rolling_hashtag", OutputMode.Update) {
      StreamOps.slidingCount(
        TextOps.extractHashtags(
          Generators.tweetStream(spark, offered), col("tweet")),
        "ts", col("hashtag"), "hashtag", "60 seconds", "5 seconds", wm)
    }
    // rolling_sort: per-trigger sort + top-k of the batch (SortBolt's
    // tick semantics — foreachBatch IS the tick)
    measureForeachBatch("rolling_sort") {
      Generators.randomMessageStream(spark, offered).toDF("ts", "message")
        .select(substring(col("message"), 1, 8).cast("long").as("value"))
    } { (batch, _) =>
      batch.orderBy(col("value")).limit(10)
        .write.format("noop").mode("overwrite").save()
    }
    // json parse per row is the heavy path: offer less so triggers
    // complete inside the measurement window
    measure("rolling_geo", OutputMode.Update, sleepMs = 60000) {
      StreamOps.slidingCount(
        Generators.adsbStream(spark, 1000000).toDF("ts", "value")
          .select(col("ts"), AdsbOps.zoneOfLine(col("value")).as("zone")),
        "ts", col("zone"), "zone", "60 seconds", "10 seconds", wm)
    }
    // flight_dist hot path: JSON parse -> typed rows -> keyed state
    // (mapGroupsWithState freshest-position). The pairwise join runs on
    // the O(#aircraft) snapshot per trigger — bounded by fleet size,
    // not stream rate — so the rate-bound stage is this one.
    measure("flight_latest", OutputMode.Update, sleepMs = 60000) {
      StreamOps.latestPositions(
        AdsbOps.parsePositionsTyped(
          Generators.adsbStream(spark, 1000000), col("adsb"))).toDF()
    }
    // the per-event proximity join (rolling_flight_dist's streaming
    // default): JSON parse -> shard fan-out -> keyed-state compare per
    // arrival. Per-arrival work is O(fleet) total (each shard compares
    // against its owned subset; the subsets partition the fleet), with
    // parallelism = numShards — so the sustainable EVENT rate is
    // ~ sharded-compare capacity / (fleet x steps), inherently below
    // the row-shaped topologies above. Offered accordingly lower; the
    // snapshot path (flight_latest + per-trigger join) stays the right
    // choice when fleet x rate outruns this and per-arrival warning
    // latency isn't required.
    measure("flight_proximity_pe", OutputMode.Append, sleepMs = 60000) {
      StreamOps.proximityWarningsPerEvent(
        AdsbOps.parsePositionsTyped(
          Generators.adsbStream(spark, 20000), col("adsb")),
        graft.queries.BenchQueries.DistThresholdKm,
        graft.queries.BenchQueries.SpecSteps,
        graft.queries.BenchQueries.SpecStepSec, numShards = 8).toDF()
    }
    // lag_drain: the saturation signal itself, end-to-end. Admission
    // (maxRowsPerTrigger) deliberately below availability accrual
    // (rowsPerSecond), so lag GROWS while the generator outruns the
    // consumer, peaks when the bounded sequence is fully generated,
    // then DRAINS to 0 — the exact backlog curve the reference's
    // offsets monitor uses to find the max sustainable ingest rate
    // (monitors/offsets/offsets_monitor.py:60-72).
    if (wanted("lag_drain")) {
      val ckpt = Files.createTempDirectory("tp-lag-drain")
      try {
        val q = spark.readStream
          .format(classOf[graft.sources.ThrottledSeqSource].getName)
          .option("totalRows", 1200000)
          .option("rowsPerSecond", 200000)
          .option("maxRowsPerTrigger", 100000)
          .load()
          .writeStream.format("noop").outputMode(OutputMode.Append)
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.ProcessingTime("1 second"))
          .start()
        // processAllAvailable can't be used here: at start the accrual
        // clock has produced nothing, so it returns before the first
        // row exists. Poll until the backlog has visibly grown AND
        // drained back to zero (or time out).
        val deadline = System.currentTimeMillis() + 60000
        def series() = lagListener.samples(q.runId).filter(_.rows > 0).flatMap(_.lag)
        while ({ val l = series()
          !(l.nonEmpty && l.max > 0 && l.last == 0) &&
            System.currentTimeMillis() < deadline }) Thread.sleep(500)
        try q.stop() catch { case _: Throwable => }
        val lags = series()
        println(s"[lag] lag_drain series (rows behind): ${lags.mkString(", ")}")
        val peak = if (lags.nonEmpty) lags.max else 0L
        println(s"[lag] lag_drain peak backlog $peak rows; " +
          s"drained to ${lags.lastOption.getOrElse(-1L)}")
      } finally org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile)
    }
    spark.stop()
  }
}

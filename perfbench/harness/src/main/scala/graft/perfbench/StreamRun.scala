package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryProgress}

import graft.ops.{AdsbOps, PageViewOps}
import graft.queries.BenchQueries
import graft.sources.Generators
import graft.streaming.StreamOps

/**
 * The storm-bench reference topologies, live, composed from the same
 * `graft.streaming` / `graft.ops` calls `graft.Run` composes, over a
 * [[FeedSource]] the benchmark owns. Each topology runs one query: a
 * drain phase over a backlog of [[StreamRun.BacklogCaps]] admission caps
 * that is fully available at start (admitted at most `admit_cap` rows per
 * trigger), then a fixed-rate phase (open loop). The fixed-rate phases
 * together take [[StreamRun.RateShare]] of `seconds`, in equal shares; the
 * drains come on top. An untimed warm-up drains one admission cap first. The query stops once every released row is committed, and its
 * collected output is checked exactly against the same lines computed
 * without the streaming engine.
 * With a tracer, the measured round runs twice: untraced, then traced.
 */
final class StreamRun(spark: SparkSession, topologies: Seq[JsonNode], seed: Long,
    seconds: Double, cores: Int, outDir: String, tracer: Option[Tracer], timeoutSec: Long) {
  import spark.implicits._
  private val between = new Between(spark)
  private val rateSeconds = seconds * StreamRun.RateShare / topologies.size

  def run(): Map[String, Any] = {
    val feeds = topologies.map { t =>
      val name = t.get("name").asText
      name -> lines(name, backlogRows(t) + (t.get("rate").asDouble * rateSeconds).toInt)
    }.toMap
    // warm-up: every topology drains one admission cap, untimed
    topologies.foreach { t =>
      val name = t.get("name").asText
      val n = t.get("admit_cap").asInt
      between.settle()
      runTopology(t, s"warm-$name", feeds(name).take(n), backlog = n, None, warmUp = true)
    }
    var firstOpMs = Double.NaN
    def round(tag: String, tr: Option[Tracer]) = {
      tr.foreach(spark.sparkContext.addSparkListener)
      val start = Clock.nowMs
      val results = topologies.map { t =>
        val name = t.get("name").asText
        between.settle()
        if (firstOpMs.isNaN) firstOpMs = Clock.nowMs
        runTopology(t, s"$tag$name", feeds(name), backlog = backlogRows(t), tr)
      }
      between.settle()
      tr.foreach(spark.sparkContext.removeSparkListener)
      Map("traced" -> tr.isDefined, "start_ms" -> start, "end_ms" -> Clock.nowMs,
        "topologies" -> results)
    }
    val rounds = round("", None) +: tracer.toSeq.map(t => round("traced-", Some(t)))
    Map("first_op_ms" -> firstOpMs, "rounds" -> rounds) ++ between.summary
  }

  private def backlogRows(t: JsonNode): Int = StreamRun.BacklogCaps * t.get("admit_cap").asInt

  private def runTopology(t: JsonNode, feedName: String, data: Array[String],
      backlog: Int, tracer: Option[Tracer], warmUp: Boolean = false): Map[String, Any] = {
    val name = t.get("name").asText
    val feed = new Feed(data, backlog, t.get("rate").asDouble, t.get("admit_cap").asLong, cores)
    Feed.register(feedName, feed)
    val out = ArrayBuffer.empty[Row]
    val src = spark.readStream.format(classOf[FeedSource].getName)
      .option("feed", feedName).load()
    val (df, mode) = topology(name, src)
    val ckpt = s"$outDir/checkpoints/$feedName"
    val q = df.writeStream.outputMode(mode).option("checkpointLocation", ckpt)
      .queryName(feedName)
      .foreachBatch { (b: DataFrame, _: Long) => out.synchronized { out ++= b.collect() }; () }
      .start()
    val deadline = System.currentTimeMillis() + timeoutSec * 1000
    def committed: Long = Option(q.lastProgress)
      .flatMap(p => Option(p.sources.head.endOffset)).map(_.trim.toLong).getOrElse(0L)
    while (q.isActive && committed < feed.total && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    val error = q.exception.map(_.getMessage).orElse(
      if (committed < feed.total) Some(s"committed $committed of ${feed.total} rows") else None)
    q.stop()
    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    Feed.remove(feedName)
    val check = if (error.isDefined) Left(error.get)
      else if (warmUp) Right(()) else checkOutput(name, feed, out.toSeq)
    tracer.foreach(tr => progress.foreach(p => tr.record(batchSpan(tr, name, p))))
    Map("topology" -> name, "feed" -> feedName, "backlog" -> backlog, "total" -> feed.total,
      "rate" -> feed.rate, "drain_start_ms" -> feed.drainStartMs,
      "rate_start_ms" -> feed.rateStartMs, "ok" -> check.isRight,
      "error" -> check.left.toOption, "batches" -> progress.map(batchRecord))
  }

  /** The topology exactly as `graft.Run` composes it over (ts, value) lines. */
  private def topology(name: String, src: DataFrame): (DataFrame, OutputMode) = {
    val lines = src.select(col("ts"), col("value"))
    name match {
      case "wordcount" =>
        (graft.Run.wordCountTopology(lines, None), OutputMode.Update)
      case "dataclean" =>
        val parsed = PageViewOps.parse(lines, col("value"))
        (PageViewOps.filterNot(parsed, col("http_status"), 200, col("value")), OutputMode.Append)
      case "unique_visitor" =>
        (uniqueVisitor(lines), OutputMode.Update)
      case "rolling_flight_dist" =>
        (flightDist(lines), OutputMode.Append)
    }
  }

  private def uniqueVisitor(lines: DataFrame): DataFrame =
    StreamOps.slidingApproxDistinct(PageViewOps.parse(lines, col("value")), "ts",
      col("url"), "url", col("user_id"), "60 seconds", "10 seconds", "0 seconds")

  private def flightDist(lines: DataFrame): DataFrame =
    StreamOps.proximityWarningsPerEvent(AdsbOps.parsePositionsTyped(lines, col("value")),
      BenchQueries.DistThresholdKm, BenchQueries.SpecSteps, BenchQueries.SpecStepSec).toDF()

  /** The same rows as a static table, for the batch form of a check. */
  private def staticLines(feed: Feed): DataFrame = {
    val data = feed.lines
    spark.range(0, feed.total, 1, cores).map(i => (data(i.toInt), i))
      .toDF("value", "i")
      .select(timestamp_millis(lit(Feed.EventStartMs) + col("i") * Feed.EventStepMs).as("ts"),
        col("value"))
  }

  /** Exact output checks: the streaming result equals the same lines
   *  counted in plain Scala, or processed as one static batch. */
  private def checkOutput(name: String, feed: Feed, out: Seq[Row]): Either[String, Unit] = {
    def same[K](what: String, got: Map[K, Any], want: Map[K, Any]): Either[String, Unit] =
      if (got == want) Right(())
      else {
        val bad = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
        Left(s"$what: ${bad.size} keys differ, e.g. " +
          bad.take(3).map(k => s"$k: got ${got.get(k)} want ${want.get(k)}").mkString("; "))
      }
    def lastPerKey(rows: Seq[Row], key: Row => Any, v: Row => Any): Map[Any, Any] =
      rows.map(r => key(r) -> v(r)).toMap
    def multiset(xs: Seq[Any]): Map[Any, Any] = xs.groupBy(identity).map { case (k, v) => k -> v.size }
    name match {
      case "wordcount" =>
        val want = scala.collection.mutable.HashMap.empty[Any, Any]
        feed.lines.foreach(_.split("\\s+").foreach { w =>
          if (w.nonEmpty) want(w) = want.getOrElse(w, 0L).asInstanceOf[Long] + 1L
        })
        same("running counts", lastPerKey(out, _.getString(0), _.getLong(1)), want.toMap)
      case "dataclean" =>
        val want = feed.lines.filter(_.split("\t", -1)(1) != "200").toSeq
        same("dropped-status lines", multiset(out.map(_.getString(0))), multiset(want))
      case "unique_visitor" =>
        val want = uniqueVisitor(staticLines(feed)).collect().toSeq
        same("window uniques", lastPerKey(out, r => (r.get(0), r.get(1)), _.get(2)),
          lastPerKey(want, r => (r.get(0), r.get(1)), _.get(2)))
      case "rolling_flight_dist" =>
        val want = flightDist(staticLines(feed)).collect().toSeq
        same("proximity warnings", multiset(out.map(_.toSeq)), multiset(want.map(_.toSeq)))
    }
  }

  /** `n` input lines of a topology, generated from the seed. Page views
   *  and ADS-B reports come from graft's own generators
   *  ([[Generators.pageViewLine]], [[Generators.adsbLine]]) over row
   *  indexes the seed offsets; PosTime is the row's event time. */
  private def lines(name: String, n: Int): Array[String] = {
    val off = seed * 1000000000L
    def generated(line: org.apache.spark.sql.Column): Array[String] =
      spark.range(off, off + n, 1, cores).select(line).as[String].collect()
    name match {
      case "wordcount" =>
        // the reference topology's input text is not shipped: 10-word
        // sentences over a 5000-word vocabulary with log-uniform word
        // ranks stand in for it (a few hot keys, a long tail of state)
        val rnd = new scala.util.Random(seed)
        Array.fill(n)(Seq.fill(10)("w" + (math.pow(5000, rnd.nextDouble()).toInt - 1))
          .mkString(" "))
      case "dataclean" | "unique_visitor" =>
        generated(Generators.pageViewLine(col("id")))
      case "rolling_flight_dist" =>
        generated(Generators.adsbLine(col("id"),
          lit(Feed.EventStartMs) + (col("id") - off) * Feed.EventStepMs))
    }
  }

  private def batchRecord(p: StreamingQueryProgress): Map[String, Any] = {
    val s = p.sources.head
    val state = p.stateOperators.toSeq
    Map("batch" -> p.batchId,
      "trigger_start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      "batch_ms" -> p.batchDuration, "rows" -> p.numInputRows,
      "start_offset" -> Option(s.startOffset).map(_.trim.toLong).getOrElse(0L),
      "end_offset" -> s.endOffset.trim.toLong,
      "latest_offset" -> Option(s.latestOffset).map(_.trim.toLong).getOrElse(s.endOffset.trim.toLong),
      "durations_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state_rows_total" -> state.map(_.numRowsTotal).sum,
      "state_rows_updated" -> state.map(_.numRowsUpdated).sum,
      "state_memory_bytes" -> state.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> state.map(_.commitTimeMs).sum)
  }

  private def batchSpan(tr: Tracer, topology: String, p: StreamingQueryProgress): Span = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    Span(tr.newId(), 0L, "micro_batch", start, start + p.batchDuration,
      batchRecord(p) + ("topology" -> topology))
  }
}

object StreamRun {
  /** The drain's backlog, in admission caps: enough triggers that the
   *  median batch rate leaves out query start-up. */
  val BacklogCaps = 6

  /** The share of `seconds` that the fixed-rate phases take together. */
  val RateShare = 2.0 / 3
}

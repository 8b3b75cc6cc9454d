package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Generators
import graft.streaming.StreamOps

/**
 * CLI runner mirroring the reference's `run_topo` entry points
 * (run_topo:20-73): each topology as a live Structured Streaming query
 * writing to the console. The topologies are the entries of
 * [[Topologies.table]]; Run owns only the source, the sink, the trigger
 * and the checkpoint.
 *
 * Usage:
 *   runMain graft.Run <topology> [options]
 *     --source kafka:<bootstrap>/<topic> | file:<path> | pageview | adsb | rand
 *                                    (default: the topology's own feed
 *                                     — page views, ADS-B, tweets, docs,
 *                                     random messages or the row index —
 *                                     over the rate source)
 *     --rate <rowsPerSecond>         (generator/file sources, default 1000)
 *     --emit-freq <seconds>          (trigger cadence, default 10 —
 *                                     the reference's tick-tuple emitFreq)
 *     --win-len <seconds>            (window length, default 60)
 *     --checkpoint <dir>             (default: temp dir)
 *     --silence-ttl <seconds | off>  (rolling_flight_dist only: evict
 *                                     aircraft silent this long; default
 *                                     = the speculative horizon; `off`
 *                                     = the reference's retain-forever)
 *     --ttl <seconds>                (wordcount/trident_wordcount/
 *                                     pageview_count: evict a key's
 *                                     running count once it is silent
 *                                     this long in EVENT time — the
 *                                     bounded-state variant for
 *                                     unbounded key domains at 100 TB;
 *                                     default: the reference's
 *                                     retain-forever runningCount)
 *
 * Topologies: every name in [[Topologies.table]]; an unknown name
 * prints the list. Options only some topologies read (each defaults to
 * the demo data):
 *     --corpus <parquet path>        (the offline model's corpus:
 *                                     lm_score, nb_langid, span_flag,
 *                                     mix_sample, neardup_gate,
 *                                     phash_gate, outlier_gate,
 *                                     ppl_gate, entropy_gate,
 *                                     winnow_gate, trained_gate,
 *                                     dsir_gate, embed_gate,
 *                                     video_gate, audio_gate)
 *     --bench <parquet path>         (the benchmark set: decontaminate,
 *                                     bloom_gate)
 *     --catalog <parquet path>       (the entity catalog: er_gate)
 *     --history <parquet path>       (the event history: anomaly_gate)
 *     --delay <interval>             (dedup_gate's watermark delay,
 *                                     default "60 seconds")
 *     --order 1|2|3                  (lm_score: unigram / bigram /
 *                                     trigram, default 1)
 *     --smoothing addone|kn          (lm_score, default addone)
 *     --threshold <minScore>         (quality_cut, default 0.3;
 *                                     curate, default 0.1)
 *     --min-words <n>                (curate, default 5)
 */
object Run {

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: Run <topology> [options]"))
    val entry = Topologies(name)
    val opts = Topologies.Options(args.drop(1).sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    val rate = opts.getOrElse("rate", "1000").toInt
    val checkpoint = opts.getOrElse("checkpoint",
      Files.createTempDirectory("graft-run").toString)

    val spark = GraftSession(s"graft-$name", sys.env.get("SPARK_MASTER"))
    spark.sparkContext.setLogLevel("WARN")

    /** Source -> (ts, value) string lines, per --source; without one,
     *  the topology's own feed over the rate source. */
    def lines(): DataFrame = opts.get("source") match {
      case Some(s) if s.startsWith("kafka:") =>
        val rest = s.stripPrefix("kafka:")
        val slash = rest.lastIndexOf('/')
        require(slash > 0, s"--source kafka needs <bootstrap>/<topic>, got: $s")
        val (bootstrap, topic) = rest.splitAt(slash)
        StreamOps.kafkaLines(spark, bootstrap, topic.drop(1))
          .select(current_timestamp().as("ts"), col("value"))
      case Some(s) if s.startsWith("file:") =>
        Generators.fileReplayStream(spark, s.stripPrefix("file:"), rate)
          .toDF("ts", "value")
      case Some("pageview") => Generators.feedStream(spark, rate, Generators.pageViewFeed)
      case Some("adsb") => Generators.feedStream(spark, rate, Generators.adsbFeed)
      case Some("rand") => Generators.feedStream(spark, rate, Generators.randomMessageFeed)
      case None => Generators.feedStream(spark, rate, entry.feed)
      case Some(other) => sys.error(s"unknown source: $other")
    }

    val trigger = Trigger.ProcessingTime(s"${opts.emitFreq} seconds")
    val q = entry.build(spark, lines(), opts) match {
      case Topologies.Streamed(df, mode) =>
        df.writeStream.format("console")
          .outputMode(mode)
          .option("truncate", "false").option("numRows", "20")
          .option("checkpointLocation", checkpoint)
          .trigger(trigger)
          .start()
      case Topologies.PerTrigger(title, form) =>
        form.start(checkpoint, trigger) { (result, id) =>
          println(s"=== batch $id $title ===")
          result.show(20, truncate = false)
        }
    }
    q.awaitTermination()
  }

  /** The wordcount live topology ([[Topologies.wordCountTopology]]),
   *  under the name the benchmark harness drives it by. */
  private[graft] def wordCountTopology(lines: DataFrame,
      ttlMs: Option[Long]): DataFrame =
    Topologies.wordCountTopology(lines, ttlMs)
}

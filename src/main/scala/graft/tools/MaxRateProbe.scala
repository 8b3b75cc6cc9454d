package graft.tools

import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Topologies
import graft.sources.{Generators, ThrottledSeqSource}
import graft.streaming.ConsumerLagListener

/** Dev tool: MAX SUSTAINABLE INGEST RATE per streaming topology — the
  * reference's actual figure of merit (its offsets monitor bisects the
  * broker rate until consumer lag stops draining,
  * monitors/offsets/offsets_monitor.py:60-72).
  *
  * The probe answers the operational question directly: the highest
  * `rowsPerSecond` at which the topology still CONSUMES EVERYTHING IT
  * IS OFFERED in real time. Each trial offers `rate x genSec` rows
  * through the admission-controlled [[ThrottledSeqSource]]
  * (availability accrues at `rate`, so the backlog signal is real),
  * mapped through the topology's own feed, and is sustainable iff the
  * full sequence is consumed within the generation window plus a small
  * grace — an unsustainable rate leaves a backlog that is still
  * draining at the deadline, exactly the diverging-lag curve the
  * reference looks for. The search doubles from a seed to bracket the
  * capacity, then runs a 3-step geometric bisection (resolution
  * ~±10-20%, well inside the shared-box noise band).
  *
  * The topologies are the entries of [[graft.Topologies]], built as
  * `graft.Run` builds them; the probe owns only the sink (noop, or a
  * noop write of each trigger's result for the foreachBatch forms),
  * the 1 s trigger and the checkpoint. Every trial's checkpoint sits
  * under one probe root, deleted once after `spark.stop()`: a stopped
  * query's async state-store maintenance can outlive the query, and
  * deleting its checkpoint under it logs FileNotFound traces.
  *
  * Args: optional topology names to probe a subset (default: all).
  * Output: one `[maxrate]` line per topology (bracket, admitted share).
  */
object MaxRateProbe {

  /** name -> (seed rate, walk-down floor) in rows/s, for every entry of
    * [[graft.Topologies.table]]. The floor bounds the walk-down for
    * heavyweight per-trigger topologies (the default floor is 2000). */
  val Seeds: ListMap[String, (Long, Long)] = ListMap(
    "wordcount" -> (1000000L, 2000L),
    "trident_wordcount" -> (1000000L, 2000L),
    "grep" -> (2000000L, 2000L),
    "sol" -> (2000000L, 2000L),
    "dataclean" -> (1000000L, 2000L),
    "pageview_count" -> (1000000L, 2000L),
    "unique_visitor" -> (2000000L, 2000L),
    "rolling_count" -> (1000000L, 2000L),
    "rolling_hashtag_count" -> (2000000L, 2000L),
    "rolling_geo_count" -> (500000L, 2000L),
    "rolling_sort" -> (4000000L, 2000L),
    "rolling_sort_lastn" -> (250000L, 2000L),
    "rolling_flight_dist" -> (8000L, 2000L),
    "rolling_flight_dist_snapshot" -> (100000L, 2000L),
    "hash_sample" -> (4000000L, 2000L),
    "json_props" -> (500000L, 2000L),
    "quality_cut" -> (1000000L, 2000L),
    "curate" -> (500000L, 2000L),
    "decontaminate" -> (200000L, 2000L),
    "text_chunks" -> (1000000L, 2000L),
    "text_scrub" -> (1000000L, 2000L),
    "pii_scrub" -> (1000000L, 2000L),
    "split_assign" -> (2000000L, 2000L),
    "mix_weights" -> (2000000L, 2000L),
    "sessionize" -> (1000000L, 2000L),
    "shuffle_shard" -> (1000000L, 2000L),
    "lm_score" -> (500000L, 2000L),
    "nb_langid" -> (500000L, 2000L),
    "span_flag" -> (500000L, 2000L),
    "mix_sample" -> (4000000L, 2000L),
    "neardup_gate" -> (500000L, 2000L),
    "phash_gate" -> (200000L, 2000L),
    "outlier_gate" -> (1000000L, 2000L),
    "langid_eval" -> (1000000L, 2000L),
    "classify_gate" -> (1000000L, 2000L),
    "corpus_report" -> (1000000L, 2000L),
    "ppl_gate" -> (500000L, 2000L),
    "funnel" -> (1000000L, 2000L),
    "anomaly_gate" -> (4000000L, 2000L),
    "attrib_join" -> (20000L, 500L),
    "entropy_gate" -> (1000000L, 2000L),
    "gopher_gate" -> (1000000L, 2000L),
    "winnow_fp" -> (1000000L, 2000L),
    "winnow_gate" -> (1000000L, 2000L),
    "dedup_gate" -> (1000000L, 2000L),
    "trained_gate" -> (1000000L, 2000L),
    "dsir_gate" -> (1000000L, 2000L),
    "embed_gate" -> (1000000L, 2000L),
    "countmin" -> (500000L, 2000L),
    "linreg_monitor" -> (1000000L, 2000L),
    "text_normalize" -> (1000000L, 2000L),
    "hybrid_serve" -> (100L, 5L),
    "line_filter" -> (1000000L, 2000L),
    "bloom_gate" -> (1000000L, 2000L),
    "tokenize" -> (1000000L, 2000L),
    "video_gate" -> (100000L, 2000L),
    "audio_gate" -> (200000L, 2000L),
    "er_gate" -> (2000000L, 2000L),
    "cluster_assign" -> (16000L, 100L))

  def main(args: Array[String]): Unit = {
    val names = if (args.isEmpty) Seeds.keys.toSeq else args.toSeq
    names.foreach(Topologies(_)) // an unknown name fails before the session starts
    val spark = graft.GraftSession("graft-max-rate-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val probeRoot = Files.createTempDirectory("maxrate")
    try probe(spark, names, probeRoot)
    finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(probeRoot.toFile)
    }
  }

  private def probe(spark: SparkSession, names: Seq[String],
      probeRoot: Path): Unit = {
    val lagListener = new ConsumerLagListener
    spark.streams.addListener(lagListener)

    val genSec = 15L // seconds of data offered per trial
    val graceSec = 6L // trigger quantization + final-drain allowance

    /** Throttled deterministic stream: (ts, value). Availability
      * accrues at `rate` rows/s; admission is unlimited, so the only
      * thing that can hold consumption back is the topology itself. */
    def throttled(rate: Long): DataFrame =
      spark.readStream.format(classOf[ThrottledSeqSource].getName)
        .option("totalRows", rate * genSec)
        .option("rowsPerSecond", rate)
        .option("numPartitions", 32)
        .load()
        .select(current_timestamp().as("ts"), col("value"))

    val trigger = Trigger.ProcessingTime("1 second")
    val noOptions = Topologies.Options(Map.empty)

    /** The latest trial's sink rows over rows read (`n/a` for a
      * foreachBatch form): a reject-path-only gate reads 0%. */
    var admitted = "n/a"

    /** One trial: does topology `name` over its feed of `throttled(rate)`
      * consume all `rate x genSec` rows within genSec + grace? */
    def sustainable(name: String, rate: Long): Boolean = {
      val total = rate * genSec
      val ckpt = Files.createTempDirectory(probeRoot, s"$name-$rate-")
      try {
        val entry = Topologies(name)
        val lines = Generators.feedLines(throttled(rate), entry.feed)
        val q = entry.build(spark, lines, noOptions) match {
          case Topologies.Streamed(df, mode) =>
            df.writeStream.format("noop")
              .outputMode(mode)
              .option("checkpointLocation", ckpt.toString)
              .trigger(trigger)
              .start()
          case Topologies.PerTrigger(_, form) =>
            form.start(ckpt.toString, trigger) { (result, _) =>
              result.write.format("noop").mode("overwrite").save()
            }
        }
        val deadline = System.currentTimeMillis() + (genSec + graceSec) * 1000
        def consumed() = lagListener.samples(q.runId).map(_.rows).sum
        try {
          while (consumed() < total && System.currentTimeMillis() < deadline)
            Thread.sleep(250)
          consumed() >= total
        } finally {
          try q.stop() catch { case _: Throwable => () }
          // a foreachBatch sink reports no output rows (-1)
          val progress = q.recentProgress
          val in = progress.map(_.numInputRows).sum
          admitted = if (in == 0 || progress.exists(_.sink.numOutputRows < 0)) "n/a"
            else f"${100.0 * progress.map(_.sink.numOutputRows).sum / in}%.1f%%"
        }
      } catch { case e: Throwable =>
        println(s"[maxrate] $name@$rate FAILED: " +
          s"${e.getClass.getSimpleName} ${e.getMessage}")
        false
      }
    }

    /** Bracket by doubling from the seed, then geometric bisection;
      * the walk-down never tests below `floor`. */
    def search(name: String, seed: Long, floor: Long): Unit = {
      // warmup trial (codegen/state-store init) — result ignored
      sustainable(name, math.max(seed / 8, math.min(1000, floor)))
      // One trial, with a FAIL confirmed by a single retry. The search
      // below never revisits a rate once marked bad, so a single noisy
      // trial caps the whole bracket — and this box demonstrably has
      // 1–3 minute ambient-load windows (r19/r20 verdicts; adjudicated
      // round 21 when phash_gate bisected at 42–59 k rows/s in two
      // burst-overlapped runs and at its true r18 bracket, 238–259 k,
      // minutes later). Load can only SLOW consumption, so noise
      // manufactures false FAILs, never false PASSes: retrying
      // failures — and only failures — is strictly truth-seeking and
      // keeps the rate grid (hence bracket comparability) unchanged.
      def trial(rate: Long): Boolean =
        sustainable(name, rate) || {
          val second = sustainable(name, rate)
          if (second) println(s"[maxrate] $name@$rate first-trial " +
            "FAIL overturned on confirm (transient load window)")
          second
        }
      var good = 0L
      var bad = 0L
      var r = seed
      while (bad == 0 && r <= seed * 64) {
        if (trial(r)) { good = r; r *= 2 }
        else bad = r
      }
      // seed itself unsustainable: walk down to find a floor — clamped
      // so the probe never tests below `floor` (bad/4 alone could
      // undershoot it, e.g. floor=50 with bad=60 would probe 15)
      while (good == 0 && bad > floor) {
        val lower = math.max(bad / 4, floor)
        if (trial(lower)) good = lower
        else bad = lower
      }
      if (good == 0) {
        println(s"[maxrate] $name unsustainable at floor $bad"); return
      }
      (1 to 3).foreach { _ =>
        if (bad > 0) {
          val mid = math.round(math.sqrt(good.toDouble * bad.toDouble))
          if (trial(mid)) good = mid else bad = mid
        }
      }
      // Both bracket edges under the same rule: the FAIL edge took a
      // failed trial and a failed retry, so the final `good` runs one
      // more trial (with its own retry). A good edge that fails it is
      // reported as unconfirmed rather than silently kept.
      val confirmed = trial(good)
      // unbracketed: the loop exited with `good` as the last VERIFIED
      // sustainable rate; `r` itself was never tried, so claim >= good
      val upper = if (bad > 0) bad.toString else s">=$good(unbracketed)"
      println(f"[maxrate] $name%-18s max sustained ~ ${good / 1000.0}%9.1f k rows/s " +
        s"(bracket $good..$upper, admitted $admitted)" +
        (if (confirmed) "" else " [good edge FAILED its confirm trial]"))
    }

    names.foreach { name =>
      val (seed, floor) = Seeds(name)
      search(name, seed, floor)
    }
  }
}

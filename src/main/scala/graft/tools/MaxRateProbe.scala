package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.ops.{AdsbOps, PageViewOps, TextOps}
import graft.sources.{Generators, ThrottledSeqSource}
import graft.streaming.{ConsumerLagListener, StreamOps}

/** Dev tool: MAX SUSTAINABLE INGEST RATE per streaming topology — the
  * reference's actual figure of merit (its offsets monitor bisects the
  * broker rate until consumer lag stops draining,
  * monitors/offsets/offsets_monitor.py:60-72).
  *
  * Where [[ThroughputProbe]] saturates each topology and reads the
  * average processed rate, this probe answers the operational question
  * directly: the highest `rowsPerSecond` at which the topology still
  * CONSUMES EVERYTHING IT IS OFFERED in real time. Each trial offers
  * `rate x genSec` rows through the admission-controlled
  * [[ThrottledSeqSource]] (availability accrues at `rate`, so the
  * backlog signal is real) and is sustainable iff the full sequence is
  * consumed within the generation window plus a small grace — an
  * unsustainable rate leaves a backlog that is still draining at the
  * deadline, exactly the diverging-lag curve the reference looks for.
  * The search doubles from a seed to bracket the capacity, then runs a
  * 3-step geometric bisection (resolution ~±10-20%, well inside the
  * shared-box noise band).
  *
  * Args: optional topology names to probe a subset.
  * Output: one `[maxrate]` line per topology; paste into SCALE.md.
  */
object MaxRateProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession("graft-max-rate-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val wanted: String => Boolean =
      if (args.isEmpty) _ => true else args.toSet

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

    /** One trial: does `topology(throttled(rate))` consume all
      * `rate x genSec` rows within genSec + grace? `fb` switches the
      * sink from noop to foreachBatch (the per-trigger-sort forms). */
    def sustainable(name: String, rate: Long, mode: OutputMode,
        topology: DataFrame => DataFrame,
        fb: Option[(DataFrame, Long) => Unit] = None): Boolean = {
      val total = rate * genSec
      val ckpt = Files.createTempDirectory(s"maxrate-$name-$rate")
      try {
        val writer0 = topology(throttled(rate)).writeStream
        val writer = fb match {
          case Some(f) => writer0.foreachBatch(f)
          case None => writer0.format("noop")
        }
        val q = writer
          .outputMode(mode)
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.ProcessingTime("1 second"))
          .start()
        val deadline = System.currentTimeMillis() + (genSec + graceSec) * 1000
        def consumed() = lagListener.samples(q.runId).map(_.rows).sum
        try {
          while (consumed() < total && System.currentTimeMillis() < deadline)
            Thread.sleep(250)
          consumed() >= total
        } finally {
          try q.stop() catch { case _: Throwable => () }
          // let async state-store maintenance quiesce before the dir
          // delete below (it races the removal with harmless but noisy
          // FileNotFound/chmod errors otherwise)
          Thread.sleep(500)
        }
      } catch { case e: Throwable =>
        println(s"[maxrate] $name@$rate FAILED: " +
          s"${e.getClass.getSimpleName} ${e.getMessage}")
        false
      } finally org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile)
    }

    /** Bracket by doubling from the seed, then geometric bisection.
      * `floor` bounds the walk-down for heavyweight per-event
      * topologies (large-fleet proximity sustains well under the
      * default 2000 rows/s). */
    def search(name: String, seed: Long, mode: OutputMode,
        fb: Option[(DataFrame, Long) => Unit] = None,
        floor: Long = 2000)(
        topology: DataFrame => DataFrame): Unit = if (wanted(name)) {
      // warmup trial (codegen/state-store init) — result ignored
      sustainable(name, math.max(seed / 8, math.min(1000, floor)), mode,
        topology, fb)
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
        sustainable(name, rate, mode, topology, fb) || {
          val second = sustainable(name, rate, mode, topology, fb)
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
        s"(bracket $good..$upper)" +
        (if (confirmed) "" else " [good edge FAILED its confirm trial]"))
      // kernel memo effectiveness across this topology's trials: a low
      // hit rate on a memo'd gate means the plan no longer duplicates
      // back-to-back (the RowMemo assumption) and the measured rate is
      // the kernel-per-duplicate one — NativeExprSpec asserts the floor
      val memo = graft.functions.VectorMath.RowMemo.stats
        .filter { case (_, (h, m)) => h + m > 0 }
      if (memo.nonEmpty)
        println("[memo] " + name + " " + memo.toSeq.sortBy(_._1).map {
          case (n, (h, m)) => f"$n=${h * 100.0 / math.max(h + m, 1)}%.0f%%($h/${h + m})"
        }.mkString(" "))
      graft.functions.VectorMath.RowMemo.reset()
    }

    // ---- topology table (mirrors ThroughputProbe's set, fed by the
    // ---- throttled source so the backlog signal is real) ------------

    search("sol", seed = 2000000, OutputMode.Append) { in =>
      TextOps.constChain(
        in.select(col("ts"), Generators.randomMessage(col("value")).as("message")),
        col("message"), levels = 3)
    }
    search("grep", seed = 2000000, OutputMode.Update) { in =>
      TextOps.grepCount(
        in.select(col("ts"), Generators.randomMessage(col("value")).as("message")),
        col("message"), "123")
    }
    search("wordcount", seed = 1000000, OutputMode.Update) { in =>
      StreamOps.runningCount(
        TextOps.splitWords(
          in.select(col("ts"), Generators.randomMessage(col("value")).as("value")),
          col("value")),
        col("word"), "word")
    }
    search("dataclean", seed = 1000000, OutputMode.Append) { in =>
      val pv = PageViewOps.parse(
        in.select(col("ts"), Generators.pageViewLine(col("value")).as("page_view")),
        col("page_view"))
      PageViewOps.filterNot(pv, col("http_status"), 200, col("url"), col("user_id"))
    }
    search("pageview_count", seed = 1000000, OutputMode.Update) { in =>
      StreamOps.runningCount(
        PageViewOps.parse(
          in.select(col("ts"), Generators.pageViewLine(col("value")).as("value")),
          col("value")),
        col("url"), "url")
    }
    search("rolling_count", seed = 1000000, OutputMode.Update) { in =>
      StreamOps.slidingCount(
        in.select(col("ts"), Generators.pageViewLine(col("value")).as("value")),
        "ts", substring(col("value"), 1, 8), "key",
        "60 seconds", "10 seconds", "0 seconds")
    }
    search("unique_visitor", seed = 2000000, OutputMode.Update) { in =>
      StreamOps.slidingApproxDistinct(
        PageViewOps.parse(
          in.select(col("ts"), Generators.pageViewLine(col("value")).as("pv")),
          col("pv")),
        "ts", col("url"), "url", col("user_id"),
        "60 seconds", "10 seconds", "0 seconds")
    }
    search("rolling_hashtag", seed = 2000000, OutputMode.Update) { in =>
      StreamOps.slidingCount(
        TextOps.extractHashtags(
          in.select(col("ts"), Generators.tweetLine(col("value")).as("tweet")),
          col("tweet")),
        "ts", col("hashtag"), "hashtag", "60 seconds", "5 seconds", "0 seconds")
    }
    search("rolling_geo", seed = 500000, OutputMode.Update) { in =>
      StreamOps.slidingCount(
        in.select(col("ts"),
          AdsbOps.zoneOfLine(Generators.adsbLine(col("value"),
            (col("ts").cast("double") * 1000).cast("long"))).as("zone")),
        "ts", col("zone"), "zone", "60 seconds", "10 seconds", "0 seconds")
    }
    def adsbTyped(in: DataFrame, fleet: Int = 40) =
      AdsbOps.parsePositionsTyped(
        in.select(col("ts"), Generators.adsbLine(col("value"),
          (col("ts").cast("double") * 1000).cast("long"), fleet).as("adsb")),
        col("adsb"))

    search("flight_proximity_pe", seed = 8000, OutputMode.Append) { in =>
      StreamOps.proximityWarningsPerEvent(adsbTyped(in),
        graft.queries.BenchQueries.DistThresholdKm,
        graft.queries.BenchQueries.SpecSteps,
        graft.queries.BenchQueries.SpecStepSec, numShards = 8).toDF()
    }

    // ---- remaining Run topologies (round-10: one max-rate row per
    // ---- servable live form) ----------------------------------------

    search("flight_latest", seed = 1000000, OutputMode.Update) { in =>
      StreamOps.latestPositions(adsbTyped(in)).toDF()
    }
    search("hash_sample", seed = 4000000, OutputMode.Append) { in =>
      in.select(col("ts"), Generators.randomMessage(col("value")).as("value"))
        .filter(graft.queries.PipelineQueries.hashSamplePredicate(
          md5(col("value"))))
    }
    search("quality_cut", seed = 1000000, OutputMode.Append) { in =>
      in.select(col("ts"), Generators.docLine(col("value")).as("value"))
        .select(col("ts"), col("value"),
          graft.ops.TextAnalyticsOps.qualityFeatures(col("value"))
            .getField("score").as("score"))
        .filter(col("score") >= 0.3)
    }
    search("mix_weights", seed = 2000000, OutputMode.Complete,
      fb = Some { (totals: DataFrame, _: Long) =>
        // the live monitor's per-trigger work: temperature weights
        // over the complete totals snapshot (bounded: one row/source)
        graft.queries.PipelineQueries.weightsOf(totals).collect(); ()
      }) { in =>
      in.select(
          concat(lit("src"), pmod(xxhash64(col("value")), lit(20L)))
            .as("source"),
          Generators.docLine(col("value")).as("text"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(graft.ops.TextAnalyticsOps.wsTokenCount(col("text")))
            .as("n_tokens"))
    }
    // corpus_report: the four-kernel dashboard rollup in Complete mode
    // — bounded |sources| groups, snapshot re-emission is the dashboard
    search("corpus_report", seed = 1000000, OutputMode.Complete) { in =>
      graft.queries.PipelineQueries.corpusReportAgg(
        in.select(Generators.docLine(col("value")).as("text"),
          concat(lit("src"), pmod(xxhash64(col("value")), lit(5L)))
            .as("source"),
          element_at(array((graft.functions.VectorMath.Stopwords.map(_._1)
              :+ "und").map(lit): _*),
            (pmod(xxhash64(col("value") + 1),
              lit(graft.functions.VectorMath.Stopwords.size + 1)) + 1)
              .cast("int")).as("lang")))
    }
    // linreg_monitor: six decimal sums per source in Complete mode —
    // the countmin state shape with model quotients on re-emission;
    // the hash-length cut makes the fitted signal non-degenerate
    // (the Run demo's exact composition)
    search("linreg_monitor", seed = 1000000, OutputMode.Complete) { in =>
      val h = xxhash64(col("value"))
      val doc = Generators.docLine(h)
        .substr(lit(1), (lit(40) + pmod(h, lit(80L))).cast("int"))
      graft.streaming.StreamOps.linregStream(
        in.select(
          concat(lit("src"), pmod(h, lit(5L))).as("source"),
          length(doc).cast("decimal(18,0)").as("x"),
          graft.ops.TextAnalyticsOps.wsTokenCount(doc)
            .cast("decimal(18,0)").as("y")),
        "source")
    }
    search("split_assign", seed = 2000000, OutputMode.Append) { in =>
      graft.queries.PipelineQueries.splitProjection(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")))
    }
    search("text_scrub", seed = 1000000, OutputMode.Append) { in =>
      graft.queries.PipelineQueries.scrubProjection(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")))
    }
    search("pii_scrub", seed = 1000000, OutputMode.Append) { in =>
      // pattern-class PII redaction: four regexp_count + four
      // regexp_replace per row; every third row carries an injected
      // hit per class so the measured rate includes real
      // substitutions, not just scan-and-miss
      graft.queries.PipelineQueries.piiProjection(
        in.select(col("ts"),
          concat(Generators.docLine(col("value")),
            when(col("value") % 3 === 0,
              concat(lit(" u"), col("value").cast("string"),
                lit("@ex.com 10.0.0.1 555-123-4567 AB123456")))
              .otherwise(lit(""))).as("text")))
    }
    search("unigram_tokens", seed = 1000000, OutputMode.Append) { in =>
      // frozen-vocab unigram-LM encode: one UnigramEncode kernel call
      // per row (per-distinct-word memo saturates on the generator's
      // bounded pool — the bpe apply discipline)
      in.select(col("ts"),
        graft.functions.native.unigram_encode(
          lower(Generators.docLine(col("value")))).as("e"))
        .select(col("ts"), col("e.n_tokens").as("n_tokens"),
          md5(col("e.enc")).as("enc_hash"))
    }
    search("text_chunks", seed = 1000000, OutputMode.Append) { in =>
      graft.queries.PipelineQueries.chunkProjection(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")))
    }
    // classify_gate: the frozen hashed-linear classifier admission —
    // stateless fold + filter, the zero-model end of the gate family
    search("classify_gate", seed = 1000000, OutputMode.Append) { in =>
      graft.queries.PipelineQueries.classifyProjection(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")))
        .filter(col("keep"))
    }
    // gopher_gate: the full rule battery — two one-pass kernels + a
    // threshold conjunction, stateless
    search("gopher_gate", seed = 1000000, OutputMode.Append) { in =>
      graft.queries.PipelineQueries.gopherProjection(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")))
        .filter(col("keep"))
    }
    // winnow_fp: per-document monotone-deque fingerprint selection
    search("winnow_fp", seed = 1000000, OutputMode.Append) { in =>
      graft.queries.PipelineQueries.winnowProjection(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")))
    }
    // attrib_join: watermarked stream-stream interval self-join. The
    // demo parameters bound the OUTPUT rate, which dominates an
    // interval join's cost: 2^18 users x 2 s window keeps expected
    // pairs-per-input near 1, so the probe measures join-state
    // machinery, not an output explosion the operator can't control
    search("attrib_join", seed = 250000, OutputMode.Append) { in =>
      val ev = in.select(
        pmod(xxhash64(col("value")), lit(262144L)).as("user_id"),
        pmod(xxhash64(col("value") + 7), lit(3L)).as("k"),
        col("ts"))
      StreamOps.streamingRangeJoin(
        ev.filter(col("k") === 0)
          .select(col("user_id"), col("ts").as("view_ts")),
        ev.filter(col("k") =!= 0)
          .select(col("user_id").as("c_user"), col("ts").as("click_ts")),
        col("user_id") === col("c_user"), "view_ts", "click_ts",
        "2 seconds", "0 seconds")
    }
    // sessionize: watermarked native session_window per content-hash
    // user — Append emits only finalized sessions, so sustained rate
    // measures the stateful merge path, not the sink
    search("sessionize", seed = 1000000, OutputMode.Append) { in =>
      graft.streaming.StreamOps.sessionizeStream(
        in.select(col("ts"),
          pmod(xxhash64(col("value")), lit(50L)).as("user_id")),
        gap = "10 seconds", watermarkDelay = "0 seconds")
    }
    // shuffle_shard: per-epoch reshuffle — foreachBatch IS the epoch;
    // the seeded shard/pos projection ranks each trigger's slice
    search("shuffle_shard", seed = 1000000, OutputMode.Append,
      fb = Some { (batch: DataFrame, _: Long) =>
        graft.queries.PipelineQueries.shardProjection(batch, col("h"))
          .select(col("h"), col("shard"), col("pos"))
          .write.format("noop").mode("overwrite").save()
      }) { in =>
      in.select(Generators.docLine(col("value")).as("text"))
    }
    search("decontaminate", seed = 200000, OutputMode.Append) { in =>
      val bench = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(col("doc_id") %
          graft.queries.PipelineQueries.DecontHoldout === 0)
        .select(col("text"))
      StreamOps.decontaminateStream(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")),
        bench, graft.queries.PipelineQueries.DecontN)
    }
    search("countmin", seed = 500000, OutputMode.Complete) { in =>
      StreamOps.countMinStream(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")))
    }
    search("text_normalize", seed = 1000000, OutputMode.Append) { in =>
      graft.queries.PipelineQueries.normalizeProjection(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")))
    }
    search("tokenize", seed = 1000000, OutputMode.Append) { in =>
      graft.queries.PipelineQueries.tokenizeProjection(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")))
    }
    search("line_filter", seed = 1000000, OutputMode.Append) { in =>
      StreamOps.lineFilterStream(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")))
    }
    search("bloom_gate", seed = 1000000, OutputMode.Append) { in =>
      val bench = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(col("doc_id") %
          graft.queries.PipelineQueries.DecontHoldout === 0)
        .select(col("text"))
      StreamOps.bloomGateStream(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")),
        bench)
    }
    search("lm_score", seed = 500000, OutputMode.Append) { in =>
      StreamOps.lmScoreStream(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")),
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    }
    search("nb_langid", seed = 500000, OutputMode.Append) { in =>
      // trained langid labeling: one NbLangId kernel call per row
      // (code-point bigram scan + per-lang integer adds) against the
      // model learned once at build
      StreamOps.nbLangIdStream(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")),
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    }
    // hybrid_serve: per-trigger two-ranker retrieval + fusion against
    // the build-once inverted index / embedding norms at fixed
    // sf0.001 corpus scale — foreachBatch IS the trigger, like
    // cluster_assign; each arriving query pays the corpus crossJoin
    // dense scoring + a broadcast postings restriction
    if (wanted("hybrid_serve")) {
      val hsIdx = StreamOps.buildHybridIndex(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
          .select(col("doc_id"), col("text")),
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
          .select(col("vec_id"), col("embedding")))
      search("hybrid_serve", seed = 100, OutputMode.Append, floor = 5,
        fb = Some { (batch: DataFrame, _: Long) =>
          StreamOps.hybridTrigger(hsIdx,
            batch.select((-(col("value") + 1L)).as("query_id"),
              Generators.docLine(col("value")).as("text"),
              graft.functions.native.synth_embedding(col("value"),
                graft.queries.PipelineQueries.EmbeddingDim)
                .as("embedding")))
            .write.format("noop").mode("overwrite").save()
        }) { in => in }
    }
    // anomaly_gate: per-type (mean, sigma) literal-map probe + one
    // row-local compare — the lightest model in the gate family
    search("anomaly_gate", seed = 4000000, OutputMode.Append) { in =>
      StreamOps.anomalyGateStream(
        in.select(col("ts"),
          element_at(array(Seq("view", "click", "purchase", "signup",
              "error").map(lit): _*),
            (pmod(xxhash64(col("value")), lit(5L)) + 1).cast("int"))
            .as("event_type"),
          (pmod(xxhash64(col("value") + 3), lit(100000L)).cast("double")
            / lit(200.0)).as("value")),
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    }
    // funnel: per-user (stage, t0) keyed state machine — the stateful
    // multi-stage progression shape; 50 users keep state tiny, so the
    // bound is the fMGWS shuffle + per-trigger group sort
    search("funnel", seed = 1000000, OutputMode.Append) { in =>
      StreamOps.funnelStream(
        in.select(
          pmod(xxhash64(col("value")), lit(50L)).as("user_id"),
          element_at(array((graft.queries.AnalyticsQueries.FunnelStages
              :+ "error").map(lit): _*),
            (pmod(xxhash64(col("value") + 7), lit(4L)) + 1)
              .cast("int")).as("event_type"),
          col("ts")))
    }
    search("ppl_gate", seed = 500000, OutputMode.Append) { in =>
      StreamOps.pplBucketStream(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")),
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    }
    search("lm_score_bigram", seed = 500000, OutputMode.Append) { in =>
      StreamOps.bigramScoreStream(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")),
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    }
    search("lm_score_kn", seed = 500000, OutputMode.Append) { in =>
      // the KN-smoothed sibling: same one-kernel-call-per-row shape,
      // two extra map probes only on the backoff path
      StreamOps.bigramKnScoreStream(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")),
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    }
    search("phash_gate", seed = 200000, OutputMode.Append) { in =>
      // the first multimodal topology: per row one REAL PNG decode +
      // DCT hash + 28 banded map probes (the demo source replays
      // fixture blobs — decode dominates)
      graft.Run.phashGateTopology(spark, in,
        graft.tools.PngFixture.Path)
    }
    search("video_gate", seed = 100000, OutputMode.Append) { in =>
      // per row one REAL multi-frame GIF decode + one DCT per frame +
      // the intersected banded probe (decode-bound, the phash_gate
      // class at clip granularity)
      graft.Run.videoGateTopology(spark, in,
        graft.tools.VideoDupFixture.Path)
    }
    search("audio_gate", seed = 200000, OutputMode.Append) { in =>
      // per row one REAL WAV decode + the 64-window energy fold + one
      // 64-point DCT + 28 banded map probes (the demo source replays
      // fixture clips — the ~3k-sample decode+fold dominates)
      graft.Run.audioGateTopology(spark, in,
        graft.tools.AudioDupFixture.Path)
    }
    search("er_gate", seed = 2000000, OutputMode.Append) { in =>
      // entity linkage at ingest: per row one broadcast block-index
      // probe + at most a block's worth of thresholded banded-DP
      // levenshtein verifies + the array_min argmin — all row-local
      // past the demo mention derivation. NOTE: the demo mix corrupts
      // EVERY mention (single deletion), so the lev-0 fast path never
      // fires here — er_gate_exact below measures the exact-traffic
      // regime the fast path exists for.
      graft.Run.erGateTopology(spark, in,
        "/root/testdata/sf0.001/part.parquet")
    }
    search("er_gate_exact", seed = 2000000, OutputMode.Append) { in =>
      // the same gate fed UNCORRUPTED catalog names — catalog
      // republication / already-clean traffic, where every mention
      // verifies at lev 0 in the prefix pass and the fast path skips
      // the whole suffix probe row-locally
      val catalog = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
      val names = catalog.select(col("p_name"))
        .filter(length(col("p_name")) >= 6)
        .distinct().limit(256)
        .collect().map(_.getString(0)).toSeq
      StreamOps.erGateStream(
        in.select(col("ts"),
          xxhash64(col("value")).as("mention_id"),
          element_at(typedlit(names),
            (pmod(xxhash64(col("value")), lit(names.size)) + 1)
              .cast("int")).as("mention")),
        catalog, "p_partkey", "p_name")
    }
    search("lm_score_kn3", seed = 500000, OutputMode.Append) { in =>
      // the trigram rung: still one kernel call per row; the fold
      // walks one more word of context and the backoff path probes
      // up to four maps instead of two
      StreamOps.trigramKnScoreStream(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")),
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    }
    search("span_flag", seed = 500000, OutputMode.Append) { in =>
      StreamOps.spanFlagStream(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")),
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    }
    search("mix_sample", seed = 4000000, OutputMode.Append) { in =>
      // same deterministic source labeling as the Run topology: index
      // into the LEARNED sources' actual names (a hardcoded source
      // count would silently fall into the unknown-source
      // keep-everything branch and inflate the measured gate rate)
      val entries = StreamOps.mixThresholdEntries(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
      val names = entries.map(_._1)
      StreamOps.mixSampleGate(
        in.select(col("ts"), Generators.docLine(col("value")).as("text"),
          element_at(array(names.map(lit).toIndexedSeq: _*),
            (pmod(xxhash64(col("value")), lit(names.length)) + 1)
              .cast("int")).as("source")),
        entries)
    }
    search("neardup_gate", seed = 500000, OutputMode.Append) { in =>
      StreamOps.nearDupGateStream(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")),
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    }
    search("outlier_gate", seed = 1000000, OutputMode.Append) { in =>
      // same deterministic demo embedding as the Run topology — the
      // measured cost is the real scoring path (IvfProbeCells + k
      // literal-vector dots) plus the synth itself
      StreamOps.outlierGateStream(
        in.select(col("ts"),
          graft.Run.synthEmbedding(col("value").cast("string"))
            .as("embedding")),
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
        k = graft.queries.PipelineQueries.KmCells,
        iters = graft.queries.PipelineQueries.KmIters,
        threshold = graft.queries.PipelineQueries.OutlierCos)
    }
    search("entropy_gate", seed = 1000000, OutputMode.Append) { in =>
      // entropy-band admission: one CharEntropy kernel call per row
      // against the two corpus-quantile literals learned at build
      StreamOps.entropyGateStream(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")),
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    }
    search("dedup_gate", seed = 1000000, OutputMode.Append) { in =>
      // streaming exact dedup: md5 fingerprint + watermark-bounded
      // dropDuplicates state; the generator repeats a bounded doc pool
      // so the dedup state saturates at pool size, the 100 TB shape
      StreamOps.streamingDedup(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")),
        "ts", md5(col("text")), "10 seconds")
    }
    // cluster_assign: per-trigger incremental cluster-id maintenance
    // against a FIXED precomputed history (the sf0.001 corpus's stored
    // band/shingle/cluster state) — state is NOT mutated across
    // triggers, so every trigger measures the same steady-state ingest
    // cost: batch banding + the stored-band join + the bounded local
    // fixpoint. foreachBatch IS the trigger, like shuffle_shard.
    if (wanted("cluster_assign")) {
      import graft.ops.DedupOps
      val caState = Files.createTempDirectory("maxrate-castate").toString
      val caHist = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("text"))
      // write the flat pre-manifest layout, then ADOPT it — the r16
      // manifest protocol makes clusterAssignTrigger read ONLY
      // manifest-committed partitions, so an unadopted layout would
      // silently measure against EMPTY history
      DedupOps.clusterBandKeys(caHist, col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$caState/bands/version=0")
      DedupOps.clusterShingleSets(caHist, col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$caState/shingles/version=0")
      require(StreamOps.adoptClusterStateLayout(spark, caState).exists(m =>
        m.liveOf("bands").nonEmpty && m.liveOf("shingles").nonEmpty),
        "cluster_assign probe: state adoption failed — the probe would " +
          "measure against empty history")
      DedupOps.connectedComponents(
          DedupOps.minhashNearDups(caHist, col("doc_id"), col("text"), 0.5)
            .select("id1", "id2"),
          caHist.select(col("doc_id").as("id")))
        .select(col("id").as("doc_id"), col("cluster"))
        .write.mode("overwrite").parquet(s"$caState/v0/clusters")
      val caClusters = spark.read.parquet(s"$caState/v0/clusters")
      // ingest-shaped corpus: 90% unique docs (md5-derived tokens, no
      // cross-doc shingle sharing), 10% near-dup FAMILY members (16
      // shared tokens + a per-doc suffix, 200 distinct families) — a
      // bounded dup rate with bounded family fan-in. docLine is wrong
      // here: its rows differ only in the last token, so EVERY pair is
      // a near-dup and any batch is one quadratic mega-cluster — a
      // generator artifact, not an ingest shape.
      def caText(v: org.apache.spark.sql.Column) = {
        def toks(c: org.apache.spark.sql.Column) =
          regexp_replace(md5(c), "(....)", "$1 ")
        when(v % 10 === 0,
          concat_ws(" ", toks(concat(lit("famA"), (v % 200).cast("string"))),
            toks(concat(lit("famB"), (v % 200).cast("string"))),
            v.cast("string")))
        .otherwise(
          concat_ws(" ", toks(v.cast("string")),
            toks(concat(v.cast("string"), lit("x")))))
      }
      search("cluster_assign", seed = 16000, OutputMode.Append, floor = 100,
        fb = Some { (batch: DataFrame, _: Long) =>
          StreamOps.clusterAssignTrigger(spark, caState, 1,
            batch.select((col("value") + 10000000L).as("doc_id"),
              caText(col("value")).as("text")),
            caClusters, 0.5)
            .write.format("noop").mode("overwrite").save()
        }) { in => in }
    }
    search("winnow_gate", seed = 1000000, OutputMode.Append) { in =>
      // winnowing admission: one WinnowCollide kernel call per row
      // (deque selection + per-doc dedup + binary-search probes)
      // against the rare-fingerprint model learned at build
      StreamOps.winnowGateStream(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")),
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    }
    search("trained_gate", seed = 1000000, OutputMode.Append) { in =>
      // trained-classifier admission: one ClassifyTrainedMargin kernel
      // call per row against the broadcast 64-long weight table learned
      // at build from the sf0.001 corpus
      StreamOps.trainedClassifyGateStream(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")),
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    }
    search("dsir_gate", seed = 1000000, OutputMode.Append) { in =>
      // DSIR domain-matching admission: one DsirScore kernel call per
      // row (md5-60 bucket per word via the prefix memo, exact
      // integer sum over the broadcast 64-long model) against the
      // model + threshold learned at build from the sf0.001 corpus
      StreamOps.dsirGateStream(
        in.select(col("ts"), Generators.docLine(col("value")).as("text")),
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    }
    search("embed_gate", seed = 1000000, OutputMode.Append) { in =>
      // embedding near-dup admission: one EmbBandCollide kernel call
      // per row (48 sign planes + 4 band binary-searches) over the
      // same deterministic demo embedding as the Run topology
      StreamOps.embedNearDupGateStream(
        in.select(col("ts"),
          graft.Run.synthEmbedding(col("value").cast("string"))
            .as("embedding")),
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    }
    search("pipeline_curate", seed = 500000, OutputMode.Append) { in =>
      StreamOps.curateStream(
        in.select(col("ts"), col("value").as("doc_id"),
          Generators.docLine(col("value")).as("text")),
        "ts", minScore = 0.0, minWords = 5L, watermarkDelay = "10 seconds")
    }
    search("rolling_sort_lastn", seed = 250000, OutputMode.Update) { in =>
      import spark.implicits._
      // SortBolt's global ring: ONE key (single bolt instance), last
      // 100 arrivals, re-emitted sorted per trigger — the rate bound is
      // the single-task group iteration, exactly the reference's bolt
      StreamOps.lastNSortedStream(
        in.select(lit("all").as("k"),
          (pmod(col("value"), lit(100000000L))).cast("double").as("v"))
          .as[(String, Double)], n = 100).toDF()
    }

    // rolling_sort: SortBolt's per-tick chunk sort — foreachBatch IS
    // the tick; sort+top-k of each trigger's batch, no carried state
    search("rolling_sort", seed = 4000000, OutputMode.Append,
      fb = Some { (batch: DataFrame, _: Long) =>
        batch.orderBy(col("v")).limit(10)
          .write.format("noop").mode("overwrite").save()
      }) { in =>
      in.select(col("ts"),
        substring(Generators.randomMessage(col("value")), 1, 8)
          .cast("long").as("v"))
    }
    search("json_props", seed = 500000, OutputMode.Update) { in =>
      val line = Generators.adsbLine(col("value"),
        (col("ts").cast("double") * 1000).cast("long"))
      val clean = regexp_replace(line, ",$", "")
      in.select(get_json_object(clean, "$.Icao").as("icao"),
          get_json_object(clean, "$.Spd").cast("double").as("spd"))
        .filter(col("icao").isNotNull)
        .groupBy(col("icao"))
        .agg(count(lit(1)).as("n"), round(avg(col("spd")), 3).as("avg_spd"))
    }

    // ---- fMGWS vs transformWithState proximity at REALISTIC state
    // ---- (fleet 2000, 8 shards — each shard owns ~250 aircraft;
    // ---- round-10 punch item: measure the claimed TWS advantage) ----

    search("flight_proximity_pe_2k", seed = 2000, OutputMode.Append,
        floor = 50) { in =>
      StreamOps.proximityWarningsPerEvent(adsbTyped(in, fleet = 2000),
        graft.queries.BenchQueries.DistThresholdKm,
        graft.queries.BenchQueries.SpecSteps,
        graft.queries.BenchQueries.SpecStepSec, numShards = 8).toDF()
    }
    if (wanted("flight_proximity_tws_2k") ||
        wanted("flight_proximity_pe_2k_rocks")) {
      // TWS runs only on the RocksDB provider; scope the conf to these
      // probes and restore, so the other topologies keep HDFS state.
      // pe_2k_rocks re-runs the fMGWS form ON RocksDB to separate
      // formulation cost from provider cost in the 2k comparison.
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      try {
        search("flight_proximity_tws_2k", seed = 2000, OutputMode.Append,
            floor = 50) { in =>
          StreamOps.proximityWarningsTws(adsbTyped(in, fleet = 2000),
            graft.queries.BenchQueries.DistThresholdKm,
            graft.queries.BenchQueries.SpecSteps,
            graft.queries.BenchQueries.SpecStepSec, numShards = 8).toDF()
        }
        search("flight_proximity_pe_2k_rocks", seed = 2000, OutputMode.Append,
            floor = 50) { in =>
          StreamOps.proximityWarningsPerEvent(adsbTyped(in, fleet = 2000),
            graft.queries.BenchQueries.DistThresholdKm,
            graft.queries.BenchQueries.SpecSteps,
            graft.queries.BenchQueries.SpecStepSec, numShards = 8).toDF()
        }
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    spark.stop()
  }
}

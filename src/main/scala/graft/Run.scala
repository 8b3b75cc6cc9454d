package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.ops._
import graft.queries.BenchQueries
import graft.sources.Generators
import graft.streaming.StreamOps

/**
 * CLI runner mirroring the reference's `run_topo` entry points
 * (run_topo:20-73): each topology as a live Structured Streaming query.
 *
 * Usage:
 *   runMain graft.Run <topology> [options]
 *     --source kafka:<bootstrap>/<topic> | file:<path> | pageview | rand
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
 * Topologies: wordcount grep sol dataclean pageview_count unique_visitor
 * rolling_count rolling_hashtag_count rolling_geo_count rolling_sort
 * rolling_sort_lastn rolling_flight_dist rolling_flight_dist_snapshot
 * hash_sample json_props quality_cut curate trident_wordcount
 * decontaminate text_chunks text_scrub pii_scrub split_assign mix_weights
 * sessionize shuffle_shard lm_score nb_langid span_flag mix_sample neardup_gate
 * phash_gate
 * outlier_gate langid_eval classify_gate corpus_report ppl_gate funnel
 * anomaly_gate attrib_join entropy_gate gopher_gate winnow_fp winnow_gate
 * dedup_gate trained_gate dsir_gate embed_gate countmin text_normalize
 * hybrid_serve
 * line_filter bloom_gate tokenize video_gate audio_gate er_gate
 * (curate also takes --threshold <minScore> and --min-words <n>;
 *  decontaminate takes --bench <parquet path> for the benchmark set;
 *  lm_score takes --corpus <parquet path> for the model corpus and
 *  --order 1|2|3 for unigram / bigram / trigram scoring;
 *  span_flag, mix_sample, neardup_gate, phash_gate, outlier_gate and nb_langid
 *  take --corpus <parquet path> for their offline models)
 */
object Run {
  /** The ONE default root for demo --corpus/--catalog tables (the
   *  driver-generated testdata layout, TESTDATA.md) — env-overridable
   *  so the demos run on hosts with the data elsewhere, instead of a
   *  machine-specific literal baked into every topology case. */
  private[graft] val DemoSfDir: String =
    sys.env.getOrElse("GRAFT_DEMO_SF_DIR", "/root/testdata/sf0.001")

  /** Byte budget for demo-source blob tables collected into typedlit
   *  plan literals (phash/video/audio gate demos): the committed
   *  fixtures are KBs, but a user-supplied --corpus of realistic
   *  payloads would otherwise inflate the logical plan and driver
   *  memory on every micro-batch with no guard. */
  private[graft] val MaxDemoBlobBytes: Long = 8L << 20

  /** Collect up to `maxRows` demo payload blobs under the
   *  [[MaxDemoBlobBytes]] plan-literal budget — refuses loud, naming
   *  the real ingestion shape (the upstream binary column). */
  private def demoBlobs(corpus: DataFrame, bytesCol: String,
      maxRows: Int, what: String): Seq[Array[Byte]] = {
    val blobs = corpus.select(col(bytesCol)).limit(maxRows)
      .collect().map(_.getAs[Array[Byte]](0)).toSeq
    require(blobs.nonEmpty, s"$what demo source needs a corpus blob")
    val total = blobs.map(_.length.toLong).sum
    require(total <= MaxDemoBlobBytes,
      s"$what demo source would embed $total blob bytes as plan " +
        s"literals (> $MaxDemoBlobBytes); the demo-labeler pattern is " +
        "for KB-scale committed fixtures — real ingestion carries the " +
        "payload as an upstream binary column instead")
    blobs
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: Run <topology> [options]"))
    val opts = args.drop(1).sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val rate = opts.getOrElse("rate", "1000").toInt
    val emitFreq = opts.getOrElse("emit-freq", "10").toInt
    val winLen = opts.getOrElse("win-len", "60").toInt
    val checkpoint = opts.getOrElse("checkpoint",
      Files.createTempDirectory("graft-run").toString)

    val spark = GraftSession(s"graft-$name", sys.env.get("SPARK_MASTER"))
    spark.sparkContext.setLogLevel("WARN")

    /** Source -> (ts, value) string lines, per --source. */
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
      case Some("pageview") => Generators.pageViewStream(spark, rate).toDF("ts", "value")
      case Some("adsb") => Generators.adsbStream(spark, rate).toDF("ts", "value")
      case Some("rand") | None => Generators.randomMessageStream(spark, rate).toDF("ts", "value")
      case Some(other) => sys.error(s"unknown source: $other")
    }

    val winS = s"$winLen seconds"
    val slideS = s"$emitFreq seconds"
    val wm = "0 seconds" // processing-time-like: no late data from live sources

    /** --ttl in millis, if given (validated > 0). */
    def ttlMsOpt: Option[Long] = opts.get("ttl").map { s =>
      val sec = s.toLong; require(sec > 0, s"--ttl must be > 0, got $sec")
      sec * 1000L
    }

    val (df, mode) = name match {
      case "wordcount" | "trident_wordcount" =>
        (wordCountTopology(lines(), ttlMsOpt), OutputMode.Update)
      case "grep" =>
        (StreamOps.runningCount(
          TextOps.grepFilter(lines(), col("value"), BenchQueries.GrepPattern)
            .select(lit(1).as("one")), col("one"), "one"), OutputMode.Update)
      case "sol" =>
        (TextOps.constChain(lines(), col("value"), levels = 3), OutputMode.Append)
      case "dataclean" =>
        val parsed = PageViewOps.parse(lines(), col("value"))
        (PageViewOps.filterNot(parsed, col("http_status"), 200, col("value")),
          OutputMode.Append)
      case "pageview_count" =>
        (pageViewCountTopology(lines(), ttlMsOpt), OutputMode.Update)
      case "unique_visitor" =>
        (StreamOps.slidingApproxDistinct(
          PageViewOps.parse(lines(), col("value")), "ts", col("url"), "url",
          col("user_id"), winS, slideS, wm), OutputMode.Update)
      case "rolling_count" =>
        val words = lines()
          .select(col("ts"), explode(split(col("value"), "\\s+")).as("word"))
          .filter(length(col("word")) > 0)
        (StreamOps.slidingCount(words, "ts", col("word"), "word",
          winS, slideS, wm), OutputMode.Update)
      case "rolling_hashtag_count" =>
        // same parse op as the batch query (13-field + '['-prefix guards)
        val tags = TextOps.extractHashtags(lines(), col("value"))
        (StreamOps.slidingCount(tags, "ts", col("hashtag"), "hashtag",
          winS, slideS, wm), OutputMode.Update)
      case "rolling_geo_count" =>
        val zones = lines().select(col("ts"), AdsbOps.zoneOfLine(col("value")).as("zone"))
        (StreamOps.slidingCount(zones, "ts", col("zone"), "zone",
          winS, slideS, wm), OutputMode.Update)
      case "rolling_sort" | "rolling_flight_dist_snapshot" | "mix_weights" |
          "shuffle_shard" | "hybrid_serve" =>
        runForeachBatch(spark, name, lines(), emitFreq, checkpoint)
        return
      case "rolling_flight_dist" =>
        // per-event incremental formulation — DistFilterBolt's actual
        // arrival interleaving; won SURVEY §7.4.3's decide-by-test
        // (ProximityFidelitySpec: emits a superset of the snapshot
        // path's warnings, exactly equal per pair's freshest positions).
        // The per-trigger snapshot join remains available as
        // rolling_flight_dist_snapshot.
        val positions = AdsbOps.parsePositionsTyped(lines(), col("value"))
        val ttlSec = opts.get("silence-ttl") match {
          case Some("off") => Long.MaxValue
          case Some(s) => s.toLong
          case None => -1L // the speculative horizon
        }
        (StreamOps.proximityWarningsPerEvent(positions,
          BenchQueries.DistThresholdKm, BenchQueries.SpecSteps,
          BenchQueries.SpecStepSec, silenceTtlSec = ttlSec).toDF(),
          OutputMode.Append)
      case "sessionize" =>
        // gap-based session windows per user, live — native
        // session_window + watermark (--win-len is the gap seconds;
        // wm 0s matches the in-order live sources). User identity for
        // an anonymous line feed is a deterministic content-hash
        // bucket (mix_weights' tagging trick).
        (sessionizeTopology(lines(), s"$winLen seconds", wm),
          OutputMode.Append)
      case "quality_cut" =>
        // corpus-relative gate, live: the p25 threshold is a corpus
        // statistic computed by the BATCH pass (pipeline_quality_cut)
        // and applied here as a static bound — the classic
        // offline-statistic / online-filter split; scoring itself is
        // the same row-local kernel
        val thr = opts.getOrElse("threshold", "0.3").toDouble
        (lines().select(col("ts"), col("value"),
          TextAnalyticsOps.qualityFeatures(col("value")).getField("score").as("score"))
          .filter(col("score") >= thr), OutputMode.Append)
      case "entropy_gate" =>
        // character-entropy band gate, live: the [lo, hi] micro-nat
        // bounds are corpus quantiles learned ONCE at build from
        // --corpus (the quality_cut offline-statistic split —
        // degenerate AND garbled text both sit at entropy extremes,
        // so the keep region is a BAND, not a one-sided cut); scoring
        // is the same row-local CharEntropy kernel as text_entropy
        (entropyGateTopology(spark, lines(), opts.getOrElse("corpus",
          s"$DemoSfDir/documents.parquet")), OutputMode.Append)
      case "curate" =>
        val minScore = opts.getOrElse("threshold", "0.1").toDouble
        val minWords = opts.getOrElse("min-words", "5").toLong
        (curateTopology(lines(), minScore, minWords, s"$winLen seconds"),
          OutputMode.Append)
      case "split_assign" =>
        // deterministic train/val/test routing at ingest: the same
        // content-keyed bucket as the gated batch query — stateless,
        // so replays and other engines route identically
        (graft.queries.PipelineQueries.splitProjection(
          lines().select(col("ts"), col("value").as("text"))),
          OutputMode.Append)
      case "text_scrub" =>
        // blocklist redaction, live: the same row-local substitution
        // as the gated batch query — stateless, Append-safe
        (graft.queries.PipelineQueries.scrubProjection(
          lines().select(col("ts"), col("value").as("text"))),
          OutputMode.Append)
      case "pii_scrub" =>
        // pattern-class PII redaction, live: the same progressive
        // regexp chain as the gated batch query — stateless,
        // Append-safe (a live stream may genuinely carry PII, so no
        // fixture augmentation here — the chain's cost is per-row
        // regardless of matches)
        (graft.queries.PipelineQueries.piiProjection(
          lines().select(col("ts"), col("value").as("text"))),
          OutputMode.Append)
      case "text_chunks" =>
        // tokenize-and-cut, live: the same row-local chunk projection
        // as the gated batch query (stateless — no watermark, no state)
        (graft.queries.PipelineQueries.chunkProjection(
          lines().select(col("ts"), col("value").as("text"))),
          OutputMode.Append)
      case "gopher_gate" =>
        // Gopher rule battery, live: every rule (dominance included)
        // is within-document, so admission is a stateless two-kernel
        // row-local projection — the zero-model end of the
        // offline-model/online-filter family, like classify_gate
        (graft.queries.PipelineQueries.gopherProjection(
          lines().select(col("ts"), col("value").as("text")))
          .filter(col("keep")), OutputMode.Append)
      case "winnow_fp" =>
        // winnowing fingerprints, live: per-document monotone-deque
        // selection (document windows never cross documents — no
        // state, no shuffle); emits the fingerprint stats each doc
        // would contribute to a fingerprint index
        (graft.queries.PipelineQueries.winnowProjection(
          lines().select(col("ts"), col("value").as("text"))),
          OutputMode.Append)
      case "classify_gate" =>
        // hashed-linear quality classifier, live: the frozen
        // arithmetic weight table IS the model (nothing to broadcast),
        // scoring is one stateless row-local fold, and the admission
        // keeps only keep=true lines — the zero-model end of the
        // lm_score offline-model/online-filter family
        (graft.queries.PipelineQueries.classifyProjection(
          lines().select(col("ts"), col("value").as("text")))
          .filter(col("keep")), OutputMode.Append)
      case "decontaminate" =>
        (decontaminateTopology(spark, lines(), opts.getOrElse("bench",
          s"$DemoSfDir/documents.parquet")), OutputMode.Append)
      case "countmin" =>
        // live Count-Min maintenance: the state store is the sketch -
        // one Complete-mode agg on (row, position), 64 K cells bounded
        // whatever the stream length; snapshot == batch build
        (StreamOps.countMinStream(
          lines().select(col("ts"), col("value").as("text"))),
          OutputMode.Complete)
      case "linreg_monitor" =>
        // live OLS fit of the q_linreg signal (tokens vs chars per
        // source): Complete-mode running sufficient statistics -
        // bounded |sources| groups of six decimal sums, snapshot ==
        // batch fit over rows-so-far. The demo labeler assigns source
        // by content hash (the corpus_report demo pattern); real
        // ingestion carries the column
        // the demo doc index is hash-derived so the topology runs under
        // ANY --source (the rand pool's 100-digit values overflow
        // docLine's direct numeric cast), and the doc is cut to a
        // hash-derived length so tokens genuinely covary with chars —
        // the full docLine is ALWAYS 26 tokens, which fits as slope 0
        // with r² NULL (a vacuous monitor demo)
        val lrHash = xxhash64(col("value"))
        val lrDoc = Generators.docLine(lrHash)
          .substr(lit(1), (lit(40) + pmod(lrHash, lit(80L))).cast("int"))
        (StreamOps.linregStream(
          lines().select(
            concat(lit("src"), pmod(xxhash64(col("value")), lit(5L)))
              .as("source"),
            length(lrDoc).cast("decimal(18,0)").as("x"),
            graft.ops.TextAnalyticsOps.wsTokenCount(lrDoc)
              .cast("decimal(18,0)").as("y")),
          "source"),
          OutputMode.Complete)
      case "text_normalize" =>
        // dedup-key normalization at ingest: the same fused row-local
        // kernel as the batch query (no model, no state, no shuffle)
        (graft.queries.PipelineQueries.normalizeProjection(
          lines().select(col("ts"), col("value").as("text"))),
          OutputMode.Append)
      case "tokenize" =>
        // tokenizer telemetry at ingest: the fertility dashboard's
        // live form — four row-local count kernels (ws/BPE/unigram/
        // WordPiece), no model, no state, no shuffle
        (graft.queries.PipelineQueries.tokenizeProjection(
          lines().select(col("ts"), col("value").as("text"))),
          OutputMode.Append)
      case "line_filter" =>
        // line-level cleaning at ingest: the same fused row-local
        // kernel as the batch query (no model, no state, no shuffle)
        (StreamOps.lineFilterStream(
          lines().select(col("ts"), col("value").as("text"))),
          OutputMode.Append)
      case "bloom_gate" =>
        // Bloom decontamination admission, live: the benchmark folds
        // into a fixed 128 KiB bitmap at topology build (the
        // decontaminate offline-model/online-filter split at its
        // 100 TB shape — artifact size independent of benchmark
        // growth); admission is one native kernel call per row
        (bloomGateTopology(spark, lines(), opts.getOrElse("bench",
          s"$DemoSfDir/documents.parquet")), OutputMode.Append)
      case "nb_langid" =>
        // trained language-ID at ingest: the char-bigram Naive Bayes
        // is learned from --corpus by the gated batch query's
        // formulation and broadcast; labeling is one native kernel
        // call per line — the same offline-model/online-score split
        // as lm_score (StreamOps.nbLangIdStream has the contracts)
        (nbLangIdTopology(spark, lines(), opts.getOrElse("corpus",
          s"$DemoSfDir/documents.parquet")),
          OutputMode.Append)
      case "lm_score" =>
        // unigram (--order 1, default) or bigram (--order 2) LM
        // quality scoring, live: the model is a corpus statistic
        // learned by the gated batch query's formulation over
        // --corpus and broadcast; scoring is a row-local fold — the
        // same offline-statistic / online-filter split as
        // quality_cut and decontaminate. --smoothing kn swaps
        // add-one for interpolated Kneser-Ney (the production KenLM
        // shape; bigram and --order 3 trigram)
        (lmScoreTopology(spark, lines(), opts.getOrElse("corpus",
          s"$DemoSfDir/documents.parquet"),
          opts.getOrElse("order", "1").toInt,
          opts.getOrElse("smoothing", "addone")), OutputMode.Append)
      case "anomaly_gate" =>
        // z-score outlier gate live: per-type (mean, sigma) baseline
        // learned ONCE at build from --history by the gated batch
        // formulation; flags emitted as they arrive. Demo stream
        // synthesizes (event_type, value) by content hash
        (StreamOps.anomalyGateStream(
          lines().select(col("ts"),
            element_at(array(Seq("view", "click", "purchase", "signup",
                "error").map(lit): _*),
              (pmod(xxhash64(col("value")), lit(5L)) + 1).cast("int"))
              .as("event_type"),
            (pmod(xxhash64(col("value") + 3), lit(100000L)).cast("double")
              / lit(200.0)).as("value")),
          spark.read.parquet(opts.getOrElse("history",
            s"$DemoSfDir/events.parquet"))), OutputMode.Append)
      case "funnel" =>
        // ordered-funnel state machine live: per-user (stage, t0)
        // keyed state, advances emitted as they happen. The demo
        // stream draws user and type by content hash (one non-funnel
        // type so ignores are exercised); real ingestion carries both
        (StreamOps.funnelStream(
          lines().select(
            pmod(xxhash64(col("value")), lit(50L)).as("user_id"),
            element_at(array((graft.queries.AnalyticsQueries.FunnelStages
                :+ "error").map(lit): _*),
              (pmod(xxhash64(col("value") + 7), lit(4L)) + 1)
                .cast("int")).as("event_type"),
            col("ts"))), OutputMode.Append)
      case "attrib_join" =>
        // stream-STREAM interval join, live: click attribution — every
        // (view, click) pair on the same user with the click inside
        // --win-len seconds of the view. Both sides are watermarked so
        // Spark bounds the join state to the interval (the unbounded
        // form would buffer both streams forever); inner matches emit
        // as they form, Append-safe. The demo derives user and side
        // from content hash (the funnel device); real ingestion
        // carries both columns
        val ev = lines().select(
          pmod(xxhash64(col("value")), lit(50L)).as("user_id"),
          pmod(xxhash64(col("value") + 7), lit(3L)).as("k"),
          col("ts"))
        (StreamOps.streamingRangeJoin(
          ev.filter(col("k") === 0)
            .select(col("user_id"), col("ts").as("view_ts")),
          ev.filter(col("k") =!= 0)
            .select(col("user_id").as("c_user"), col("ts").as("click_ts")),
          col("user_id") === col("c_user"), "view_ts", "click_ts",
          winS, wm)
          .select(col("user_id"), col("view_ts"), col("click_ts")),
          OutputMode.Append)
      case "ppl_gate" =>
        // CCNet perplexity bucketing at ingest: thresholds + unigram
        // model learned ONCE at build from --corpus by the batch
        // formulation; arriving lines labeled head/middle/tail — the
        // lm_score offline-model/online-filter split with the bucket
        // CASE on top
        (StreamOps.pplBucketStream(
          lines().select(col("ts"), col("value").as("text")),
          spark.read.parquet(opts.getOrElse("corpus",
            s"$DemoSfDir/documents.parquet"))),
          OutputMode.Append)
      case "span_flag" =>
        // repeated-span flagging, live: the dup-gram hash set is
        // learned offline from --corpus (the batch dedup_spans rule),
        // broadcast sorted, and probed row-locally by binary search —
        // the lm_score offline-model/online-filter split
        (spanFlagTopology(spark, lines(), opts.getOrElse("corpus",
          s"$DemoSfDir/documents.parquet")), OutputMode.Append)
      case "mix_sample" =>
        // temperature-mixture sampling, live: per-source thresholds
        // learned offline from --corpus (the gated batch query's
        // arithmetic, collected ONCE and shared by the labeler and the
        // gate), keep = the same md5-prefix predicate. Real ingestion
        // carries a source tag; the demo labels lines deterministically
        // by content hash INTO THE LEARNED SOURCES' OWN NAMES — an
        // invented name pattern would fall into the unknown-source
        // keep-everything branch on any corpus whose sources aren't
        // named that way, silently disarming the gate
        val entries = StreamOps.mixThresholdEntries(
          spark.read.parquet(opts.getOrElse("corpus",
            s"$DemoSfDir/documents.parquet")))
        require(entries.nonEmpty, "mix_sample: empty model corpus")
        val names = entries.map(_._1)
        (StreamOps.mixSampleGate(
          lines().select(col("ts"), col("value").as("text"),
            element_at(array(names.map(lit).toIndexedSeq: _*),
              (pmod(xxhash64(col("value")), lit(names.length)) + 1)
                .cast("int")).as("source")),
          entries), OutputMode.Append)
      case "corpus_report" =>
        // per-source curation dashboard, live: Complete-mode running
        // rollup of the four row-local kernels — bounded |sources|
        // groups, the mix_weights output-mode reasoning. The demo
        // labeler assigns source and lang deterministically by content
        // hash (the mix_sample / langid_eval demo pattern); real
        // ingestion carries both columns
        val rptLangs = (graft.functions.VectorMath.Stopwords.map(_._1) :+ "und")
        (StreamOps.corpusReportStream(
          lines().select(Generators.docLine(col("value")).as("text"),
            concat(lit("src"), pmod(xxhash64(col("value")), lit(5L)))
              .as("source"),
            element_at(array(rptLangs.map(lit): _*),
              (pmod(xxhash64(col("value") + 1), lit(rptLangs.size)) + 1)
                .cast("int")).as("lang"))),
          OutputMode.Complete)
      case "langid_eval" =>
        // langid confusion monitor, live: Complete-mode running
        // (label, prediction) counts — bounded groups, the mix_weights
        // output-mode reasoning. Real ingestion carries an upstream
        // label; the demo assigns one deterministically by content
        // hash (the mix_sample demo-labeler pattern) so off-diagonal
        // mass actually accrues
        val langs = (graft.functions.VectorMath.Stopwords.map(_._1) :+ "und")
        (StreamOps.langIdEvalStream(
          lines().select(col("value").as("text"),
            element_at(array(langs.map(lit): _*),
              (pmod(xxhash64(col("value")), lit(langs.size)) + 1)
                .cast("int")).as("lang"))),
          OutputMode.Complete)
      case "outlier_gate" =>
        // embedding-outlier admission, live: k-means prototypes trained
        // offline from --corpus (the batch embed_outliers quantizer),
        // embedded as literals; arriving vectors scored row-locally
        // against their own centroid. Real ingestion carries an
        // embedding column; the demo synthesizes a deterministic hash
        // vector per line (the mix_sample demo-labeler pattern)
        (outlierGateTopology(spark, lines(), opts.getOrElse("corpus",
          s"$DemoSfDir/embeddings.parquet")), OutputMode.Append)
      case "dedup_gate" =>
        // streaming EXACT dedup at ingest: first occurrence of a
        // content fingerprint passes, later duplicates within the
        // watermark delay drop (dropDuplicatesWithinWatermark —
        // bounded state; the batch dedup_exact pass is the exact
        // sweep). The stateful member of the admission family; the
        // near-dup members are neardup_gate/winnow_gate/embed_gate
        (StreamOps.streamingDedup(
          lines().select(col("ts"), col("value").as("text")),
          "ts", md5(col("text")),
          opts.getOrElse("delay", "60 seconds")), OutputMode.Append)
      case "winnow_gate" =>
        // winnowing admission, live: the corpus's rare fingerprint
        // hashes learned offline from --corpus (dedup_winnow's df-cap
        // universe), broadcast as a sorted long[]; admit iff fewer
        // than WinnowMinShared distinct fingerprints collide — the
        // position-guaranteed member of the admission family
        (winnowGateTopology(spark, lines(), opts.getOrElse("corpus",
          s"$DemoSfDir/documents.parquet")), OutputMode.Append)
      case "trained_gate" =>
        // trained-classifier admission, live: the logistic-regression
        // weight table learned offline from --corpus (classify_train's
        // own quantized-GD learner), broadcast; admit iff the model's
        // quantized margin is positive — the train->deploy loop closed
        (trainedGateTopology(spark, lines(), opts.getOrElse("corpus",
          s"$DemoSfDir/documents.parquet")), OutputMode.Append)
      case "dsir_gate" =>
        // DSIR domain-matching admission, live: the B-row micro-nat
        // log-ratio model and the batch top-N's minimum score learned
        // offline from --corpus (sample_dsir's own arithmetic),
        // broadcast as a long[]; admit iff the one-kernel-call integer
        // importance weight clears the threshold
        (dsirGateTopology(spark, lines(), opts.getOrElse("corpus",
          s"$DemoSfDir/documents.parquet")), OutputMode.Append)
      case "embed_gate" =>
        // embedding near-dup admission, live: the corpus's combined
        // LSH band keys learned offline from --corpus (the batch
        // bandCollideAdmitEmbedding rule), broadcast as a sorted
        // long[] bounded by tables·2^bits REGARDLESS of corpus size,
        // probed row-locally by the EmbBandCollide kernel — the
        // neardup_gate split on the embedding side
        (embedGateTopology(spark, lines(), opts.getOrElse("corpus",
          s"$DemoSfDir/embeddings.parquet")), OutputMode.Append)
      case "neardup_gate" =>
        // near-dup admission, live: the corpus's LSH band keys learned
        // offline from --corpus (the batch bandCollideAdmit candidate
        // rule), broadcast as a sorted long[], probed row-locally by
        // the LshBandCollide kernel — the span_flag
        // offline-model/online-filter split applied to MinHash+LSH
        (nearDupGateTopology(spark, lines(), opts.getOrElse("corpus",
          s"$DemoSfDir/documents.parquet")), OutputMode.Append)
      case "phash_gate" =>
        // IMAGE near-dup admission, live (the first streaming
        // multimodal topology): corpus perceptual hashes fingerprinted
        // offline from --corpus (an (img_id, png) parquet; default =
        // the committed PNG fixture) into the banded PhashBandIndex,
        // each arriving image decoded + hashed + probed
        // partition-batched. The demo source derives a REAL encoded
        // PNG per line from the fixture corpus (the embedForLine
        // demo-labeler pattern — real ingestion replaces this with the
        // upstream binary column); decisions stream through with
        // matched_id/hamming observability
        (phashGateTopology(spark, lines(), opts.getOrElse("corpus",
          graft.tools.PngFixture.Path)), OutputMode.Append)
      case "video_gate" =>
        // VIDEO near-dup admission, live: corpus clips fingerprinted
        // offline from --corpus (a (clip_id, gif) parquet; default =
        // the committed video-dup fixture) into the per-frame-position
        // banded VideoBandIndex; each arriving clip decoded + hashed
        // per frame + probed with the intersected banded search. The
        // demo source replays REAL corpus clips per line (the
        // phash_gate demo-labeler pattern)
        (videoGateTopology(spark, lines(), opts.getOrElse("corpus",
          graft.tools.VideoDupFixture.Path)), OutputMode.Append)
      case "audio_gate" =>
        // AUDIO near-dup admission, live: corpus clips fingerprinted
        // offline from --corpus (a (clip_id, wav) parquet; default =
        // the committed audio-dup fixture) into the hash-agnostic
        // banded PhashBandIndex; each arriving clip decoded +
        // envelope-DCT fingerprinted + probed partition-batched —
        // completes the admission-gate family's modality coverage.
        // The demo source replays REAL corpus clips per line (the
        // phash_gate demo-labeler pattern)
        (audioGateTopology(spark, lines(), opts.getOrElse("corpus",
          graft.tools.AudioDupFixture.Path)), OutputMode.Append)
      case "er_gate" =>
        // entity-linkage admission, live: the catalog block index
        // built offline from --catalog (the er_matches blocking +
        // argmin resolution, shared definition), each arriving
        // mention linked row-locally after one broadcast join. The
        // demo source derives a dirty mention per line from the
        // catalog's own names (the phash_gate demo-labeler pattern —
        // real ingestion replaces this with the upstream mention
        // column); match/nomatch decisions stream through with
        // entity_id/lev observability
        (erGateTopology(spark, lines(), opts.getOrElse("catalog",
          s"$DemoSfDir/part.parquet")), OutputMode.Append)
      case "hash_sample" =>
        // deterministic content-hash downsampling, live: the same
        // row-local predicate as the gated batch query — no RNG, no
        // state, so replays and retries keep the identical subset
        (lines().filter(graft.queries.PipelineQueries.hashSamplePredicate(
          md5(col("value")))), OutputMode.Append)
      case "json_props" =>
        // semi-structured property stats, live (adsb source emits JSON):
        // row-local get_json_object extraction + running agg per key
        val clean = regexp_replace(col("value"), ",$", "")
        (lines()
          .select(get_json_object(clean, "$.Icao").as("icao"),
            get_json_object(clean, "$.Spd").cast("double").as("spd"))
          .filter(col("icao").isNotNull)
          .groupBy(col("icao"))
          .agg(count(lit(1)).as("n"), round(avg(col("spd")), 3).as("avg_spd")),
          OutputMode.Update)
      case "rolling_sort_lastn" =>
        // SortBolt's exact ring semantics: one global chunk (single bolt
        // instance) of the last N numeric values, re-emitted sorted per
        // trigger; N from --win-len (stands in for chunk_size here)
        import spark.implicits._
        // non-numeric lines (file:/kafka/pageview sources) cast to null;
        // drop them BEFORE binding the primitive-Double encoder, which
        // would otherwise crash the query on the first such row
        (StreamOps.lastNSortedStream(
          lines().select(lit("all").as("k"),
            substring(col("value"), 1, 8).cast("double").as("v"))
            .filter(col("v").isNotNull)
            .as[(String, Double)], winLen)
          .toDF("key", "rn", "value"),
          OutputMode.Update)
      case other => sys.error(s"unknown topology: $other")
    }

    val q = df.writeStream.format("console")
      .outputMode(mode)
      .option("truncate", "false").option("numRows", "20")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(s"$emitFreq seconds"))
      .start()
    q.awaitTermination()
  }

  /** The wordcount live topology over (ts, value) lines — factored so
   *  RunTopologySpec can drive the EXACT Run composition (including the
   *  --ttl wiring) from a MemoryStream. `ttlMs = Some(t)` selects the
   *  bounded-state event-time-TTL running count; None is the
   *  reference's retain-forever form. */
  private[graft] def wordCountTopology(lines: DataFrame,
      ttlMs: Option[Long]): DataFrame = {
    // ts must survive the split for the TTL form (event-time eviction)
    val words = lines
      .select(col("ts"), explode(split(col("value"), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
    ttlMs match {
      case Some(ttl) => StreamOps.runningCountTtl(words, "ts", col("word"), ttl)
      case None => StreamOps.runningCount(words, col("word"), "word")
    }
  }

  /** The pageview_count live topology — same --ttl contract as
   *  [[wordCountTopology]], keyed by url (PageViewOps.parse keeps ts). */
  private[graft] def pageViewCountTopology(lines: DataFrame,
      ttlMs: Option[Long]): DataFrame = {
    val pv = PageViewOps.parse(lines, col("value"))
    ttlMs match {
      case Some(ttl) => StreamOps.runningCountTtl(pv, "ts", col("url"), ttl)
      case None => StreamOps.runningCount(pv, col("url"), "url")
    }
  }

  /** The full curation pipeline, live (pipeline_curate's streaming
   *  form): language-ID + quality enrichment, threshold filter,
   *  watermarked fingerprint dedup. doc_id for an anonymous line feed
   *  is its content hash — deterministic under replay. Factored for
   *  RunTopologySpec like the counting topologies. */
  private[graft] def curateTopology(lines: DataFrame, minScore: Double,
      minWords: Long, watermarkDelay: String): DataFrame =
    StreamOps.curateStream(
      lines.select(col("ts"), xxhash64(col("value")).as("doc_id"),
        col("value").as("text")),
      "ts", minScore, minWords, watermarkDelay)

  /** The sessionize live topology over (ts, value) lines — the gated
   *  batch query's sessionAgg over a watermarked stream
   *  (StreamOps.sessionizeStream), users tagged by content hash.
   *  Factored so RunTopologySpec drives the exact composition. */
  private[graft] def sessionizeTopology(lines: DataFrame, gap: String,
      watermarkDelay: String): DataFrame =
    graft.streaming.StreamOps.sessionizeStream(
      lines.select(col("ts"),
        pmod(xxhash64(col("value")), lit(50L)).as("user_id")),
      gap, watermarkDelay)

  /** One EPOCH of live shuffle+shard over a micro-batch of (ts, value)
   *  lines: the gated batch query's seeded projection
   *  ([[graft.queries.PipelineQueries.shardProjection]]) applied to
   *  the slice. The hash `h` doubles as doc identity for the
   *  anonymous feed (curateTopology's content-hash convention) and as
   *  the rank tiebreak — duplicate lines tie as identical rows, so
   *  the epoch's assignment multiset is deterministic under replay.
   *  Factored so RunTopologySpec drives the exact composition. */
  private[graft] def epochShardAssignment(batch: DataFrame): DataFrame =
    graft.queries.PipelineQueries.shardProjection(
      batch.select(col("value").as("text")), col("h"))
      .select(col("h").as("doc_hash"), col("shard"), col("pos"))

  /** The decontaminate live topology — benchmark-overlap scrub at
   *  ingest: the benchmark shingle set is a static offline artifact
   *  (like quality_cut's threshold), the stream side a stateless
   *  row-local gate (StreamOps.decontaminateStream has the scale
   *  reasoning). Factored so RunTopologySpec drives the exact
   *  composition. */
  private[graft] def decontaminateTopology(spark: SparkSession,
      lines: DataFrame, benchPath: String): DataFrame = {
    val bench = spark.read.parquet(benchPath)
      .filter(col("doc_id") %
        graft.queries.PipelineQueries.DecontHoldout === 0)
      .select(col("text"))
    StreamOps.decontaminateStream(
      lines.select(col("ts"), col("value").as("text")), bench,
      graft.queries.PipelineQueries.DecontN)
  }

  /** The bloom_gate live topology — [[decontaminateTopology]]'s
   *  benchmark slice folded to the fixed-size Bloom bitmap instead of
   *  the exact gram set; factored so RunTopologySpec drives the exact
   *  composition. */
  private[graft] def bloomGateTopology(spark: SparkSession,
      lines: DataFrame, benchPath: String): DataFrame = {
    val bench = spark.read.parquet(benchPath)
      .filter(col("doc_id") %
        graft.queries.PipelineQueries.DecontHoldout === 0)
      .select(col("text"))
    StreamOps.bloomGateStream(
      lines.select(col("ts"), col("value").as("text")), bench)
  }

  /** Trained language-ID at ingest: the Naive Bayes model is an
   *  offline artifact of the gated batch query's learn pass
   *  (StreamOps.nbLangIdStream has the contracts). Factored so
   *  RunTopologySpec drives the exact composition. */
  private[graft] def nbLangIdTopology(spark: SparkSession,
      lines: DataFrame, corpusPath: String): DataFrame =
    StreamOps.nbLangIdStream(
      lines.select(col("ts"), col("value").as("text")),
      spark.read.parquet(corpusPath))

  /** The lm_score live topology — unigram (order 1) or add-one bigram
   *  (order 2) LM scoring at ingest: the model is an offline artifact
   *  of the gated batch query's learn pass (StreamOps.lmScoreStream /
   *  bigramScoreStream have the scale + OOV/backoff reasoning).
   *  Factored so RunTopologySpec drives the exact composition. */
  private[graft] def lmScoreTopology(spark: SparkSession,
      lines: DataFrame, corpusPath: String, order: Int = 1,
      smoothing: String = "addone"): DataFrame = {
    val docs = lines.select(col("ts"), col("value").as("text"))
    val corpus = spark.read.parquet(corpusPath)
    (order, smoothing) match {
      case (1, "addone") => StreamOps.lmScoreStream(docs, corpus)
      case (2, "addone") => StreamOps.bigramScoreStream(docs, corpus)
      case (2, "kn") => StreamOps.bigramKnScoreStream(docs, corpus)
      case (3, "kn") => StreamOps.trigramKnScoreStream(docs, corpus)
      case (n, s) => throw new IllegalArgumentException(
        s"--order $n --smoothing $s: unigram (1), bigram (2) and " +
          "trigram (3) models ship — add-one for orders 1-2, kn for " +
          "orders 2-3")
    }
  }

  /** Repeated-span flagging at ingest: the dup-gram set is an offline
   *  artifact of the gated batch query's corpus count
   *  (StreamOps.spanFlagStream has the scale reasoning). Factored so
   *  RunTopologySpec drives the exact composition. */
  private[graft] def spanFlagTopology(spark: SparkSession,
      lines: DataFrame, corpusPath: String): DataFrame =
    StreamOps.spanFlagStream(
      lines.select(col("ts"), col("value").as("text")),
      spark.read.parquet(corpusPath))

  /** Near-dup admission at ingest: the corpus band-key set is an
   *  offline artifact of the batch bandCollideAdmit candidate rule
   *  (StreamOps.nearDupGateStream has the scale reasoning). Factored so
   *  RunTopologySpec drives the exact composition. */
  private[graft] def nearDupGateTopology(spark: SparkSession,
      lines: DataFrame, corpusPath: String): DataFrame =
    StreamOps.nearDupGateStream(
      lines.select(col("ts"), col("value").as("text")),
      spark.read.parquet(corpusPath))

  /** Image near-dup admission at ingest: the corpus fingerprint index
   *  is an offline artifact of the batch decode+hash
   *  (StreamOps.phashGateStream has the scale reasoning). The demo
   *  source maps each line to a REAL encoded PNG from the corpus (a
   *  typedlit blob table indexed by line hash — the embedForLine
   *  pattern; real ingestion replaces this with the upstream binary
   *  column). Factored so RunTopologySpec drives the exact
   *  composition. */
  private[graft] def phashGateTopology(spark: SparkSession,
      lines: DataFrame, corpusPath: String): DataFrame = {
    val corpus = spark.read.parquet(corpusPath)
    val blobs = demoBlobs(corpus, "png", 48, "phash_gate")
    StreamOps.phashGateStream(
      lines.select(col("ts"),
        xxhash64(col("value")).as("img_id"),
        element_at(typedlit(blobs),
          (pmod(xxhash64(col("value")), lit(blobs.size)) + 1).cast("int"))
          .as("png")),
      corpus)
  }

  /** Video near-dup admission at ingest: the per-frame banded corpus
   *  index is an offline artifact of the batch mm_video_neardup
   *  decode (StreamOps.videoGateStream has the scale reasoning).
   *  Factored so RunTopologySpec drives the exact composition. */
  private[graft] def videoGateTopology(spark: SparkSession,
      lines: DataFrame, corpusPath: String): DataFrame = {
    val corpus = spark.read.parquet(corpusPath)
    val blobs = demoBlobs(corpus, "gif", 48, "video_gate")
    StreamOps.videoGateStream(
      lines.select(col("ts"),
        xxhash64(col("value")).as("clip_id"),
        element_at(typedlit(blobs),
          (pmod(xxhash64(col("value")), lit(blobs.size)) + 1).cast("int"))
          .as("gif")),
      corpus)
  }

  /** Entity-linkage admission at ingest: the catalog index is an
   *  offline artifact of the batch er_matches blocking
   *  (StreamOps.erGateStream has the scale reasoning). The demo
   *  mention applies the LinkageQueries corruption class — one
   *  deletion past the 3-char blocking prefix — to a line-hash-picked
   *  catalog name. Factored so RunTopologySpec drives the exact
   *  composition. */
  private[graft] def erGateTopology(spark: SparkSession,
      lines: DataFrame, catalogPath: String): DataFrame = {
    val catalog = spark.read.parquet(catalogPath)
    val names = catalog.select(col("p_name"))
      .filter(length(col("p_name")) >= 6)
      .distinct().limit(256)
      .collect().map(_.getString(0)).toSeq
    require(names.nonEmpty, "er_gate demo source needs catalog names")
    StreamOps.erGateStream(
      lines.select(col("ts"),
          xxhash64(col("value")).as("k"),
          element_at(typedlit(names),
            (pmod(xxhash64(col("value")), lit(names.size)) + 1)
              .cast("int")).as("nm"))
        .select(col("ts"), col("k").as("mention_id"),
          // the ONE LinkageQueries corruption definition, with pmod
          // for the signed hash key (batch uses % on catalog keys)
          expr(graft.queries.LinkageQueries.deleteAtWith("nm", "k",
            (k, m) => s"pmod($k, $m)")).as("mention")),
      catalog, "p_partkey", "p_name")
  }

  /** Audio near-dup admission at ingest: the banded fingerprint index
   *  is an offline artifact of the batch mm_audio_fingerprint decode
   *  (StreamOps.audioGateStream has the scale reasoning). The demo
   *  source replays REAL corpus WAV clips per line (the phash_gate
   *  demo-labeler pattern — real ingestion replaces this with the
   *  upstream binary column). Factored so RunTopologySpec drives the
   *  exact composition. */
  private[graft] def audioGateTopology(spark: SparkSession,
      lines: DataFrame, corpusPath: String): DataFrame = {
    val corpus = spark.read.parquet(corpusPath)
    val blobs = demoBlobs(corpus, "wav", 48, "audio_gate")
    StreamOps.audioGateStream(
      lines.select(col("ts"),
        xxhash64(col("value")).as("clip_id"),
        element_at(typedlit(blobs),
          (pmod(xxhash64(col("value")), lit(blobs.size)) + 1).cast("int"))
          .as("wav")),
      corpus)
  }

  /** Deterministic demo embedding for a text line: 64 hash-derived
   *  floats in [-1, 1) — real ingestion replaces this with the
   *  upstream encoder's column (the mix_sample demo-labeler pattern).
   *  A native kernel, not composed columns: the 64-term tree inlines
   *  into every downstream scoring consumer and blows the 64 KB
   *  codegen method limit (see functions.SynthEmbedding). */
  private[graft] def synthEmbedding(
      value: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.native.synth_embedding(value,
      graft.queries.PipelineQueries.EmbeddingDim)

  /** Embedding-outlier admission at ingest: prototypes are an offline
   *  artifact of the batch embed_outliers training
   *  (StreamOps.outlierGateStream has the scale reasoning). Factored
   *  so RunTopologySpec drives the exact composition. */
  private[graft] def outlierGateTopology(spark: SparkSession,
      lines: DataFrame, corpusPath: String): DataFrame = {
    import graft.queries.PipelineQueries
    StreamOps.outlierGateStream(
      lines.select(col("ts"), col("value"),
        synthEmbedding(col("value")).as("embedding")),
      spark.read.parquet(corpusPath),
      k = PipelineQueries.KmCells, iters = PipelineQueries.KmIters,
      threshold = PipelineQueries.OutlierCos)
  }

  /** Entropy-band admission at ingest: the [p5, p95] micro-nat bounds
   *  are offline corpus statistics (StreamOps.entropyGateStream has
   *  the band reasoning). Factored so RunTopologySpec drives the
   *  exact composition. */
  private[graft] def entropyGateTopology(spark: SparkSession,
      lines: DataFrame, corpusPath: String): DataFrame =
    StreamOps.entropyGateStream(
      lines.select(col("ts"), col("value").as("text")),
      spark.read.parquet(corpusPath))

  /** Winnowing admission at ingest: the rare-fingerprint set is an
   *  offline artifact of the dedup_winnow universe
   *  (StreamOps.winnowGateStream has the guarantee reasoning).
   *  Factored so RunTopologySpec drives the exact composition. */
  private[graft] def winnowGateTopology(spark: SparkSession,
      lines: DataFrame, corpusPath: String): DataFrame =
    StreamOps.winnowGateStream(
      lines.select(col("ts"), col("value").as("text")),
      spark.read.parquet(corpusPath))

  /** Trained-classifier admission at ingest: the weight table is an
   *  offline artifact of the classify_train learner
   *  (StreamOps.trainedClassifyGateStream has the deploy reasoning).
   *  Factored so RunTopologySpec drives the exact composition. */
  private[graft] def trainedGateTopology(spark: SparkSession,
      lines: DataFrame, corpusPath: String): DataFrame =
    StreamOps.trainedClassifyGateStream(
      lines.select(col("ts"), col("value").as("text")),
      spark.read.parquet(corpusPath))

  /** DSIR domain-matching admission at ingest: model + threshold are
   *  offline artifacts of the sample_dsir learner
   *  (StreamOps.dsirGateStream has the deploy reasoning). Factored so
   *  RunTopologySpec drives the exact composition. */
  private[graft] def dsirGateTopology(spark: SparkSession,
      lines: DataFrame, corpusPath: String): DataFrame =
    StreamOps.dsirGateStream(
      lines.select(col("ts"), col("value").as("text")),
      spark.read.parquet(corpusPath))

  /** Embedding near-dup admission at ingest: the corpus band-key set
   *  is an offline artifact of the batch banding
   *  (StreamOps.embedNearDupGateStream has the scale reasoning).
   *  Factored so RunTopologySpec drives the exact composition. */
  private[graft] def embedGateTopology(spark: SparkSession,
      lines: DataFrame, corpusPath: String): DataFrame =
    StreamOps.embedNearDupGateStream(
      lines.select(col("ts"), col("value"),
        synthEmbedding(col("value")).as("embedding")),
      spark.read.parquet(corpusPath))

  /** The two per-trigger-sort topologies run through foreachBatch. */
  private def runForeachBatch(spark: SparkSession, name: String, lines: DataFrame,
      emitFreq: Int, checkpoint: String): Unit = {
    val q = name match {
      case "rolling_sort" =>
        lines.writeStream
          .outputMode(OutputMode.Append)
          .option("checkpointLocation", checkpoint)
          .trigger(Trigger.ProcessingTime(s"$emitFreq seconds"))
          .foreachBatch { (batch: DataFrame, id: Long) =>
            // SortBolt: sort the tick's chunk, show top rows (RollingSort.java:96-116)
            println(s"=== batch $id (sorted) ===")
            batch.orderBy(col("value")).show(20, truncate = false)
          }.start()
      case "shuffle_shard" =>
        // per-EPOCH reshuffle: one trigger = one epoch slice, ranked
        // by the SAME seeded content-hash projection as the gated
        // batch query (epoch boundaries are a loader-side choice; the
        // projection doesn't change) — naturally foreachBatch, since
        // a rank within an epoch is a bounded batch computation, not
        // unbounded streaming state
        lines.writeStream
          .outputMode(OutputMode.Append)
          .option("checkpointLocation", checkpoint)
          .trigger(Trigger.ProcessingTime(s"$emitFreq seconds"))
          .foreachBatch { (batch: DataFrame, id: Long) =>
            println(s"=== epoch $id shard assignment ===")
            epochShardAssignment(batch)
              .orderBy(col("shard"), col("pos"))
              .show(20, truncate = false)
          }.start()
      case "mix_weights" =>
        // live mixture monitor: the line sources carry no source tag,
        // so tag deterministically by content hash (stands in for the
        // upstream source field a real feed would carry)
        val docs = lines.select(
          concat(lit("src"), pmod(xxhash64(col("value")), lit(20L)))
            .as("source"),
          col("value").as("text"))
        StreamOps.mixWeightsStream(docs, checkpoint, emitFreq) { (weights, id) =>
          println(s"=== batch $id mixture weights ===")
          weights.orderBy(col("source")).show(25, truncate = false)
        }
      case "hybrid_serve" =>
        // hybrid retrieval serving, live: arriving queries fuse BM25
        // and cosine ranks against corpus artifacts built once
        // (StreamOps.streamingHybrid has the contracts). Line sources
        // carry no embedding; the demo derives one deterministically
        // from content (the embed_gate device) — real ingestion runs
        // an embedder upstream
        val docsPath = s"$DemoSfDir/documents.parquet"
        val embPath = s"$DemoSfDir/embeddings.parquet"
        // ids strictly NEGATIVE: query ids must be disjoint from
        // corpus doc/vec ids or the query-by-example self-exclusion
        // silently drops the colliding doc (the -(k+1) convention)
        val queries = lines.select(
          (-(pmod(xxhash64(col("value")), lit(1L << 62)) + 1L))
            .as("query_id"),
          col("value").as("text"),
          synthEmbedding(col("value")).as("embedding"))
        StreamOps.streamingHybrid(queries,
          spark.read.parquet(docsPath).select("doc_id", "text"),
          spark.read.parquet(embPath).select("vec_id", "embedding"),
          checkpoint, emitFreq) { (fused, id) =>
          println(s"=== batch $id hybrid top-k ===")
          fused.orderBy(col("qid"), col("rank")).show(20, truncate = false)
        }
      case "rolling_flight_dist_snapshot" =>
        val positions = AdsbOps.parsePositionsTyped(lines, col("value"))
        StreamOps.proximityWarnings(positions,
          BenchQueries.DistThresholdKm, BenchQueries.SpecSteps,
          BenchQueries.SpecStepSec, emitFreq, checkpoint,
          Files.createTempDirectory("graft-flight-state").toString) { (warnings, id) =>
          println(s"=== batch $id proximity warnings ===")
          warnings.orderBy(col("dist_r")).show(20, truncate = false)
        }
    }
    q.awaitTermination()
  }
}

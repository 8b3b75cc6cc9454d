package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.model.{AdsbPosition, FlightState, ProximityWarning, ShardedReport}
import graft.ops.{DriverGate, JoinOps}

/**
 * Structured Streaming forms of the reference topologies. Each reuses
 * the same `graft.ops` column pipelines as the batch queries — that
 * shared core is the design win over the reference, which duplicates
 * every operator per engine (e.g. Count vs Trident Count).
 *
 * Semantics mapping (SURVEY.md §2.10):
 *  - per-tuple emission        -> update-mode micro-batch emission
 *                                 (final-state-per-trigger equivalence)
 *  - tick tuples (emitFreq)    -> Trigger.ProcessingTime
 *  - SlidingWindow slots       -> window(ts, winLen, slide) + watermark
 *  - at-least-once + acker     -> exactly-once with checkpointing
 *  - max.spout.pending         -> maxOffsetsPerTrigger (Kafka source)
 */
object StreamOps {

  /** Kafka topic as a string stream — the analog of KafkaSpout +
   *  StringScheme (common/BenchmarkBase.java:70-73). */
  def kafkaLines(spark: SparkSession, bootstrap: String, topic: String,
      maxOffsetsPerTrigger: Long = 100000L): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest") // kafka.api.OffsetRequest.EarliestTime()
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger) // backpressure
      .load()
      .selectExpr("CAST(value AS STRING) AS value")

  /** Running count per key, emitted per trigger (WordCount.Count /
   *  PageViewCount semantics — unbounded state, update mode). Exact
   *  reference parity; on an unbounded key domain use
   *  [[runningCountTtl]] (SURVEY §7.4.4). */
  def runningCount(lines: DataFrame, key: Column, keyName: String): DataFrame =
    lines.groupBy(key.as(keyName)).agg(count(lit(1)).as("cnt"))

  /**
   * Running count with per-key EVENT-TIME TTL — the bounded-state
   * variant of [[runningCount]] for unbounded key domains (URLs, user
   * ids, doc fingerprints at 100 TB). Keyed state via
   * flatMapGroupsWithState with an event-time timeout: once the
   * watermark passes a key's last event + ttl, its count is evicted and
   * restarts from zero on the next arrival — the explicit trade that
   * keeps state O(active keys), not O(all keys ever). Event-time (not
   * processing-time) timeouts keep the op deterministic under replay
   * and don't force the engine to schedule empty wall-clock batches.
   * Emits (key, cnt) per updated key per trigger (update mode).
   */
  def runningCountTtl(lines: DataFrame, tsName: String, key: Column,
      ttlMs: Long, watermarkDelay: String = "0 seconds"): DataFrame = {
    val spark0 = lines.sparkSession
    import spark0.implicits._
    // the watermarked timestamp column itself must reach the stateful
    // operator (the analyzer rejects event-time timeout otherwise) —
    // convert to millis inside the lambda, not in a projection
    lines.withWatermark(tsName, watermarkDelay)
      .select(key.cast("string").as("k"), col(tsName).as("ts"))
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      // state = (count, max event ts ever seen): the timeout must come
      // from the RUNNING max, not this batch's max — a late row would
      // otherwise shorten the TTL and evict a live count early
      .flatMapGroupsWithState[(Long, Long), (String, Long)](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (k: String, rows: Iterator[(String, java.sql.Timestamp)],
            state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var n = 0L
            var maxTs = Long.MinValue
            rows.foreach { r => n += 1; if (r._2.getTime > maxTs) maxTs = r._2.getTime }
            val (prevCnt, prevMax) = state.getOption.getOrElse((0L, Long.MinValue))
            val cnt = prevCnt + n
            val runningMax = math.max(prevMax, maxTs)
            state.update((cnt, runningMax))
            // evict once the watermark passes last-event + ttl; guard
            // against a timeout already in the past vs the watermark
            val wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(math.max(runningMax + ttlMs, wm + 1))
            Iterator((k, cnt))
          }
      }.toDF("key", "cnt")
  }

  /** Sliding-window count per key with watermarked eviction —
   *  RollingCountBolt + SlidingWindow, state managed by Spark. */
  def slidingCount(lines: DataFrame, tsName: String, key: Column, keyName: String,
      winLen: String, slide: String, watermarkDelay: String): DataFrame =
    lines.withWatermark(tsName, watermarkDelay)
      .groupBy(window(col(tsName), winLen, slide).as("w"), key.as(keyName))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("w_start"), col(keyName), col("cnt"))

  /**
   * Streaming ring-buffer sort: SortBolt's EXACT tick semantics
   * (RollingSort.java:70-127) — keyed state holds the last `n` ARRIVALS
   * (overwrite oldest), and every trigger re-emits the key's sorted,
   * ranked chunk. State is a bounded Vector (fixed size n — never
   * grows), so this is safe on an unbounded stream; arrival order
   * within a micro-batch follows partition iterator order, the same
   * arrival race the reference's multi-worker shuffleGrouping has.
   * Batch form: `WindowOps.lastNSorted` (gated as `rolling_sort_lastn`).
   */
  def lastNSortedStream(values: Dataset[(String, Double)], n: Int)
      : Dataset[(String, Long, Double)] = {
    import values.sparkSession.implicits._
    values.groupByKey(_._1)
      .flatMapGroupsWithState[Vector[Double], (String, Long, Double)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key, rows, state: GroupState[Vector[Double]]) =>
          val buf = rows.foldLeft(state.getOption.getOrElse(Vector.empty[Double])) {
            (b, r) => (if (b.size >= n) b.drop(b.size - n + 1) else b) :+ r._2
          }
          state.update(buf)
          buf.sorted.zipWithIndex.iterator
            .map { case (v, i) => (key, i + 1L, v) }
      }
  }

  /** Sliding-window distinct per key — UniqueVisitorBolt. Streaming
   *  aggregation cannot hold exact distinct cheaply at scale; HLL++
   *  (approx_count_distinct) is the honest 100 TB path (SURVEY.md §4.3). */
  def slidingApproxDistinct(lines: DataFrame, tsName: String, key: Column,
      keyName: String, item: Column, winLen: String, slide: String,
      watermarkDelay: String): DataFrame =
    lines.withWatermark(tsName, watermarkDelay)
      .groupBy(window(col(tsName), winLen, slide).as("w"), key.as(keyName))
      .agg(approx_count_distinct(item).as("uniques"))
      .select(col("w.start").as("w_start"), col(keyName), col("uniques"))

  /**
   * Streaming exact dedup on a key expression (e.g. the md5 fingerprint
   * from TextAnalyticsOps.fingerprint): first occurrence passes, later
   * duplicates within the watermark delay drop. Uses
   * `dropDuplicatesWithinWatermark`: plain `dropDuplicates` on a key
   * subset that excludes the event-time column NEVER evicts its state
   * (the watermark only bounds state when event time is part of the
   * keys), which would be exactly the unbounded seen-set this op exists
   * to avoid. The trade is explicit: duplicates farther apart than the
   * delay pass through — the streaming contract at 100 TB is bounded
   * state + windowed dedup, with the batch pass as the exact sweep.
   */
  def streamingDedup(df: DataFrame, tsName: String, dedupKey: Column,
      watermarkDelay: String): DataFrame =
    df.withColumn("__dedup_key", dedupKey)
      .withWatermark(tsName, watermarkDelay)
      .dropDuplicatesWithinWatermark("__dedup_key")
      .drop("__dedup_key")

  /**
   * Live gap-based sessionization — the streaming form of
   * `AnalyticsQueries.sessionize`, via the IDENTICAL
   * `sessionAgg` expression (native `session_window`) over a
   * watermarked stream. Runs in Append mode: a (user, session) row is
   * emitted exactly once, when the watermark passes the session's
   * close (last event + gap) — the loader-friendly finalized-sessions
   * contract, and also what bounds state: Spark evicts a session's
   * accumulator at emission, so state is O(open sessions), never
   * O(history). Session merging (an event bridging two open windows
   * collapses them) is the engine's native semantics on both sides,
   * which is why batch and stream agree row-for-row on any in-order
   * feed once sessions finalize (RunTopologySpec). Expects
   * (ts, user_id) columns.
   */
  def sessionizeStream(events: DataFrame, gap: String,
      watermarkDelay: String): DataFrame =
    graft.queries.AnalyticsQueries.sessionAgg(
      events.withWatermark("ts", watermarkDelay), gap)

  /**
   * Streaming curation: the batch `PipelineQueries.pipelineCurate`
   * stages under continuous ingestion. The enrichment + filter are the
   * IDENTICAL row-local ops; the dedup stage differs in two documented
   * ways inherent to streaming: the survivor is the first arrival (not
   * the min doc_id — a stream can't know a smaller id arrives later),
   * there is no n_copies count, and only duplicates within the
   * watermark delay are caught ([[streamingDedup]]'s bounded-state
   * contract; the batch pass is the exact sweep). Expects (ts, doc_id,
   * text) columns.
   */
  def curateStream(docs: DataFrame, tsName: String, minScore: Double,
      minWords: Long, watermarkDelay: String): DataFrame = {
    import graft.ops.TextAnalyticsOps
    val enriched = docs.select(col(tsName), col("doc_id"), col("text"),
      TextAnalyticsOps.langId(col("text")).as("lang_pred"),
      TextAnalyticsOps.qualityFeatures(col("text")).as("q"))
      .select(col(tsName), col("doc_id"), col("text"), col("lang_pred"),
        col("q.n_words").as("n_words"), col("q.score").as("score"))
      .filter(col("lang_pred") === "en" &&
        col("score") >= minScore && col("n_words") >= minWords)
    streamingDedup(enriched, tsName,
      TextAnalyticsOps.fingerprint(col("text")), watermarkDelay)
      .select(col(tsName), col("doc_id"), col("n_words"), col("score"))
  }

  /**
   * Live benchmark-DECONTAMINATION gate — flag streaming documents that
   * share any word n-gram with a static benchmark set (the streaming
   * form of `PipelineQueries.decontaminate`, the test-set-overlap scrub
   * applied at INGEST time instead of as a batch sweep). The
   * benchmark's distinct 64-bit shingle hashes are collapsed into one
   * static row (`collect_set` over the ShingleHashes kernel) and
   * broadcast-joined into the stream on a constant key; per-document
   * hit counting is then a row-local `array_intersect` — no streaming
   * aggregation, no state, Append-safe, and per-doc counts identical
   * to the batch query's (both sides are distinct gram-hash sets).
   * Scale: the benchmark side is small by construction (an eval
   * suite), the same offline-statistic / online-filter split as the
   * `quality_cut` topology; the stream side stays stateless so
   * throughput is bounded by the shingle kernel, not by state I/O.
   * Docs must carry a `text` column; all input columns pass through
   * with `n_hits` appended, docs with zero overlap are dropped.
   */
  def decontaminateStream(docs: DataFrame, bench: DataFrame, n: Int): DataFrame = {
    val benchSet = bench
      .select(explode(graft.functions.native.shingle_hashes(col("text"), n)).as("sh"))
      .agg(collect_set(col("sh")).as("bench_sh"))
      .withColumn("jk", lit(1))
    val passthrough = docs.columns.map(col)
    docs
      .withColumn("sh", graft.functions.native.shingle_hashes(col("text"), n))
      .withColumn("jk", lit(1))
      .join(broadcast(benchSet), "jk")
      .select(passthrough :+
        size(array_intersect(col("sh"), col("bench_sh"))).cast("bigint")
          .as("n_hits"): _*)
      .filter(col("n_hits") > 0)
  }

  /**
   * Live COUNT-MIN maintenance — the streaming form of
   * `SketchQueries.countMin`'s cell table: Spark's state store IS the
   * sketch. Counters are sums, so ONE Complete-mode streaming
   * aggregation on (row, position) maintains the d x w matrix
   * incrementally — each arriving word contributes +1 to its d cells
   * and the engine's two-phase agg does the merge the sketch contract
   * promises (per-partition partials combine by +). State is bounded
   * by d x w = 64 K cells REGARDLESS of stream length or vocabulary
   * growth — the entire point of sketching an unbounded stream; the
   * exact wordcount twin's state grows with distinct words. The
   * snapshot equals the batch `countMinCells` build over everything
   * seen (sum-mergeability, CountMinSpec-pinned cell-for-cell),
   * so batch point lookups serve from the live state unchanged.
   * The per-word weight is 1 here where the batch build weights by
   * the pre-agged count c — same sums, one streaming agg (chained
   * aggs are not allowed in streaming, and the pre-agg would be one).
   */
  def countMinStream(docs: DataFrame): DataFrame = {
    import graft.queries.SketchQueries
    docs.select(explode(split(col("text"), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .withColumn("hh", SketchQueries.cmHash(col("word")))
      .select(explode(array((0 until SketchQueries.CmDepth).map(i =>
        struct(lit(i).as("r"), SketchQueries.cmPos(col("hh"), i).as("p"))): _*))
        .as("cell"))
      .groupBy(col("cell.r").as("r"), col("cell.p").as("p"))
      .agg(count(lit(1)).as("cnt"))
  }

  /**
   * Live OLS REGRESSION monitor — the streaming form of
   * `AnalyticsQueries.linregOf` (the countMinStream device: the state
   * store IS the model): one Complete-mode aggregate maintains the
   * six sufficient statistics per key as DECIMAL sums — exact,
   * order-independent, mergeable, so state is six numbers per key
   * whatever the stream length — and the normal-equation quotient
   * tail is the SHARED `linregQuotients` definition applied above the
   * agg, so every trigger's snapshot equals the batch fit over the
   * rows ingested so far (spec-pinned across triggers). Input:
   * (key, x: decimal, y: decimal) rows.
   */
  def linregStream(rows: DataFrame, key: String): DataFrame = {
    import graft.queries.AnalyticsQueries
    AnalyticsQueries.linregQuotients(
      rows.groupBy(col(key)).agg(AnalyticsQueries.linregSumExprs.head,
        AnalyticsQueries.linregSumExprs.tail: _*),
      key)
  }

  /**
   * Live LINE-LEVEL cleaning — the streaming form of
   * `PipelineQueries.textLineFilter` with no model at all: the rules
   * are row-local constants, so the topology IS the batch projection
   * (`lineFilterProjection`) applied to the stream — one fused kernel
   * call per doc, zero state, Append-safe, replay-stable. The
   * batch/live split that needs an offline artifact (quality_cut,
   * span_flag, bloom_gate) degenerates here to sharing one function.
   */
  def lineFilterStream(docs: DataFrame): DataFrame =
    graft.queries.PipelineQueries.lineFilterProjection(docs)

  /**
   * Live Bloom DECONTAMINATION GATE — the scale form of
   * [[decontaminateStream]]: instead of broadcasting the benchmark's
   * exact distinct-gram set and intersecting ARRAYS per row (O(|bench|)
   * state, O(grams x log) work — the 200 k rows/s shape), the benchmark
   * folds ONCE at topology build into a fixed 128 KiB Bloom bitmap
   * (`PipelineQueries.bloomBitsOf` — size independent of benchmark
   * growth) and each arriving doc runs ONE native
   * [[graft.functions.BloomProbe]] kernel call: k bit probes per
   * distinct gram, no join, no array materialization, Append-safe,
   * replay-stable. Admission keeps docs with ZERO probe hits; the Bloom
   * one-sided error means every truly-contaminated doc is REJECTED for
   * certain (no false negatives), and an FPR-bounded sliver of clean
   * docs is over-rejected — the right polarity for decontamination,
   * where a missed benchmark leak costs more than a lost clean doc
   * (batch `decontaminate_bloom_eval` measures the over-drop). Docs too
   * short to gram admit unconditionally (no grams ⇒ no hits — agreed
   * with the batch form's filter). BloomDecontSpec pins gate == batch
   * complement on the same frame.
   */
  def bloomGateStream(docs: DataFrame, bench: DataFrame,
      n: Int = graft.queries.PipelineQueries.DecontN,
      k: Int = graft.queries.PipelineQueries.DecontBloomK): DataFrame = {
    val bits = graft.queries.PipelineQueries.bloomBitsOf(bench, n, k)
    val bc = docs.sparkSession.sparkContext.broadcast(bits)
    val passthrough = docs.columns.map(col)
    docs
      .withColumn("st", graft.functions.native.bloom_probe(col("text"), n, k, bc))
      .filter(col("st.n_hits") === 0)
      .select(passthrough :+ col("st.n_grams").as("n_grams"): _*)
  }

  /**
   * Live unigram-LM quality scoring — the streaming form of
   * `PipelineQueries.textUnigramNll`, split offline-statistic /
   * online-filter like `quality_cut` and [[decontaminateStream]]: the
   * unigram model is LEARNED from a static corpus ONCE, at topology
   * build (`PipelineQueries.unigramModel` — the identical formulation
   * the gated batch query trains, collected vocab-sized and
   * sc.broadcast as a real hash map), and scoring is a pure
   * projection through the native [[graft.functions.LmUnigramScore]]
   * kernel — no streaming aggregation, no state, no stream-static
   * join, Append-safe. The first cut joined a 1-row model frame and
   * folded with `element_at` on a map column; that shape re-ran the
   * learn aggregation EVERY micro-batch (static subtrees re-execute
   * per trigger) and probed Spark's MapData by LINEAR scan per token
   * — the kernel's O(1) hash probes and build-once model replaced it
   * (bisected 420 k → 3.08 M rows/s; the bigram form measured the
   * same failure at 15.6 k → 3.08 M). Out-of-vocabulary words — impossible in the batch
   * query, which scores the corpus it learned from — cost
   * `floor(ln(total_tokens)·NllMicro)`: the NLL a singleton would
   * have had, the add-one ceiling of the learned distribution. For
   * all-in-vocab docs the emitted (n_words, nll_micro_sum) equal the
   * batch query's exactly (RunTopologySpec pins both; the nll values
   * are collected from the SAME Spark expressions the batch query
   * computes, so engine-side float identity is by construction).
   * Empty lines emit (0, 0) rather than vanishing (the batch explode
   * drops them): a live gate should never silently swallow rows.
   * Scale: the model is VOCAB-sized (the natural-language vocabulary
   * curve — megabytes at web scale), resident per executor either
   * way (a broadcast join would hold the same hash table), and the
   * build refuses past `driverCap` words ([[DriverGate.collect]]);
   * throughput is bounded by the tokenize kernel, not state I/O.
   * Docs must carry a `text` column; all input columns pass through
   * with (n_words, nll_micro_sum) appended.
   */
  def lmScoreStream(docs: DataFrame, corpus: DataFrame,
      driverCap: Long = DriverGate.cap(DriverGate.VocabRowBytes))
      : DataFrame = {
    val micro = graft.queries.PipelineQueries.NllMicro
    val entries = DriverGate.collect("lm_unigram",
      graft.queries.PipelineQueries.unigramModel(corpus)
        .select(col("w"), col("nll_micro"), col("freq")),
      driverCap, "PipelineQueries.textUnigramNll")
    val m = new java.util.HashMap[String, java.lang.Long](entries.length * 2)
    var tot = 0L
    entries.foreach { r =>
      m.put(r.getString(0), r.getLong(1))
      tot += r.getLong(2)
    }
    // StrictMath = Spark's own Log implementation, so the ceiling is
    // the number the engine itself would have computed
    val oov = math.floor(StrictMath.log(tot.toDouble) * micro.toDouble).toLong
    val bc = docs.sparkSession.sparkContext.broadcast(m)
    val passthrough = docs.columns.map(col)
    docs
      .withColumn("ws",
        graft.ops.TextAnalyticsOps.words(lower(col("text"))))
      .select(passthrough ++ Seq(
        size(col("ws")).cast("long").as("n_words"),
        graft.functions.native.lm_unigram_score(col("ws"), bc, oov)
          .as("nll_micro_sum")): _*)
  }

  /**
   * Live BIGRAM-LM scoring — the streaming form of
   * `PipelineQueries.textBigramNll`, same offline-model/online-filter
   * split as [[lmScoreStream]]. The broadcast maps carry the full
   * add-one model, so every fallback is the probability the smoothed
   * model itself assigns — not an ad-hoc penalty: a seen bigram costs
   * its table entry -ln((c_ab+1)/(c_a+V)); an unseen bigram with a
   * KNOWN context costs -ln(1/(c_a+V)) from the context map; an
   * unknown context costs -ln(1/V). Keys are space-joined ("a b") —
   * unambiguous because words are whitespace-split (the BpeRank
   * device). The model is learned ONCE at topology build — the
   * vocab²-bounded bigram count relation is collected, c_a and V are
   * summed on the driver, and the nll values are the batch query's
   * own IEEE operations (StrictMath.log, Math.floor: Spark's Log and
   * Floor), so float identity is by construction — and sc.broadcast
   * as real hash maps probed by the native
   * [[graft.functions.LmBigramScore]] kernel. The first cut was a
   * stream-static join + `element_at` fold: it re-ran the model
   * aggregation every micro-batch AND probed MapData by linear scan
   * per bigram over a vocab²-sized map — measured 15.6 k rows/s vs
   * the kernel's 3.08 M (197×). Stateless row-local projection,
   * Append-safe; for lines whose bigrams all appear in the corpus the
   * emitted (n_bigrams, nll_micro_sum) equal the batch query's
   * exactly (RunTopologySpec pins all four cases). Lines with <2
   * words emit (0, 0) rather than vanishing (the batch contract drops
   * them; a live gate should not silently swallow rows).
   *
   * The broadcast model is the FULL bigram relation — vocab²-BOUNDED,
   * not vocab²-sized (natural text realizes a tiny, Zipf-thinned
   * fraction of the square), but still the one collect in the gate
   * family whose size is quadratic in a corpus statistic. Past
   * `driverCap` distinct bigrams the build REFUSES
   * ([[DriverGate.collect]]) instead of collecting a map that would
   * brown-out the driver and every executor: use the batch
   * `PipelineQueries.textBigramNll` join form, which keeps the model
   * distributed, for corpora past the cap (StreamOpsSpec asserts the
   * refusal).
   */
  def bigramScoreStream(docs: DataFrame, corpus: DataFrame,
      driverCap: Long = DriverGate.cap(DriverGate.VocabRowBytes))
      : DataFrame = {
    val micro = graft.queries.PipelineQueries.NllMicro
    def nllOf(num: Long, den: Long): Long =
      math.floor(-StrictMath.log(num.toDouble / den.toDouble) *
        micro.toDouble).toLong
    val counts = DriverGate.collect("lm_bigram", corpus
      .select(graft.ops.TextAnalyticsOps.words(lower(col("text"))).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("ws")) - 2),
        i => struct(element_at(col("ws"), i + 1).as("a"),
          element_at(col("ws"), i + 2).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("c_ab")),
      driverCap, "PipelineQueries.textBigramNll")
    require(counts.nonEmpty,
      "bigram model is EMPTY (no corpus doc has two words) — every " +
        "score would read 0 micro-nats (probability 1) and a " +
        "downstream quality gate would admit everything; point " +
        "--corpus at a real text corpus")
    val cA = counts.groupMapReduce(_.getString(0))(_.getLong(2))(_ + _)
    val v = cA.size.toLong // V = distinct contexts
    val lm = new java.util.HashMap[String, java.lang.Long](counts.length * 2)
    counts.foreach { r =>
      lm.put(r.getString(0) + " " + r.getString(1),
        nllOf(r.getLong(2) + 1, cA(r.getString(0)) + v))
    }
    val ctx = new java.util.HashMap[String, java.lang.Long](cA.size * 2)
    cA.foreach { case (a, c) => ctx.put(a, nllOf(1, c + v)) }
    // -ln(1/V), NOT ln(V): the 1/V rounding step can move the result
    // an ulp
    val unk = nllOf(1, v)
    val spark0 = docs.sparkSession
    val bcLm = spark0.sparkContext.broadcast(lm)
    val bcCtx = spark0.sparkContext.broadcast(ctx)
    val passthrough = docs.columns.map(col)
    docs
      .withColumn("ws",
        graft.ops.TextAnalyticsOps.words(lower(col("text"))))
      .select(passthrough ++ Seq(
        greatest(size(col("ws")) - 1, lit(0)).cast("long").as("n_bigrams"),
        graft.functions.native.lm_bigram_score(col("ws"), bcLm, bcCtx, unk)
          .as("nll_micro_sum")): _*)
  }

  /**
   * Live KNESER-NEY bigram scoring — [[bigramScoreStream]]'s sibling
   * with the smoothing KenLM-style filters actually ship (the gated
   * batch form is `PipelineQueries.textBigramKn`): the full KN model
   * trains relationally over `corpus` by the batch query's EXACT
   * expressions, so a seen bigram scores the identical quantized
   * micro-nats live and in batch (spec-pinned corpus-wide). Backoff —
   * which the batch twin never exercises, since it scores its own
   * training corpus — is the model's own definition in quantized
   * components: seen context + unseen pair → ctxBase(a) + cont(b)
   * (the discount mass times the continuation prior); unknown
   * context → cont(b) alone; unknown continuation word → the
   * 1/|types| floor. Each component is floored to micro-nats before
   * summing (≤ 1 micro-nat from a single-ln form — a definitional
   * choice, spec-pinned per case, the add-one kernel's convention).
   * Same bounded-broadcast contract as the add-one form: the build
   * REFUSES past `driverCap` distinct bigrams ([[DriverGate.collect]]
   * of the per-pair rows, which bound the other two collects), naming
   * the distributed batch form as the tool.
   */
  def bigramKnScoreStream(docs: DataFrame, corpus: DataFrame,
      driverCap: Long = DriverGate.cap(DriverGate.VocabRowBytes))
      : DataFrame = {
    import graft.queries.PipelineQueries.{KnDiscount, NllMicro}
    val bgCounts = corpus
      .select(graft.ops.TextAnalyticsOps.words(lower(col("text"))).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("ws")) - 2),
        i => struct(element_at(col("ws"), i + 1).as("a"),
          element_at(col("ws"), i + 2).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("c_ab"))
    def micro(e: Column): Column =
      floor(e * lit(NllMicro.toDouble)).cast("bigint")
    // the SHARED batch definitions (knStats + knSeenNllMicro), so a
    // seen pair scores micro-nat-identical live and gated.
    // Checkpointed once (distributed MEMORY_AND_DISK state, never
    // driver memory): three MINIMAL driver round-trips read it below
    // (per-pair nll, per-context ctx_base, per-word cont_nll) instead
    // of one denormalized 7-column collect — the old form duplicated
    // every word string across the concatenated key and the a/b
    // columns and carried per-pair copies of the per-context and
    // per-word components, ~2-3× the driver footprint of the add-one
    // model under the same cap.
    val bg = graft.queries.PipelineQueries.knStats(bgCounts)
      .localCheckpoint()
    val pairs = try {
      val rows = DriverGate.collect("lm_bigram_kn",
        bg.select(concat(col("a"), lit(" "), col("b")).as("k"),
          graft.queries.PipelineQueries.knSeenNllMicro.as("nll")),
        driverCap, "PipelineQueries.textBigramKn")
      require(rows.nonEmpty,
        "KN bigram model is EMPTY (no corpus doc has two words) — " +
          "every score would read 0 micro-nats (probability 1) and a " +
          "downstream quality gate would admit everything; point " +
          "--corpus at a real text corpus")
      rows
    } catch { case e: IllegalArgumentException =>
      graft.ops.DedupOps.releaseTruncated(bg); throw e }
    val lm = new java.util.HashMap[String, java.lang.Long](pairs.length * 2)
    pairs.foreach(r => lm.put(r.getString(0), r.getLong(1)))
    val base = new java.util.HashMap[String, java.lang.Long]
    bg.select(col("a"),
        micro(-log((lit(KnDiscount) * col("n1p_a")) /
          col("c_a").cast("double"))).as("ctx_base"))
      .distinct()
      .collect().foreach(r => base.put(r.getString(0), r.getLong(1)))
    val cont = new java.util.HashMap[String, java.lang.Long]
    var tt = 1L
    bg.select(col("b"),
        micro(-log(col("cont_b").cast("double") /
          col("tt").cast("double"))).as("cont_nll"),
        col("tt"))
      .distinct()
      .collect().foreach { r =>
        cont.put(r.getString(0), r.getLong(1)); tt = r.getLong(2)
      }
    // the stats frame fed only the three model collects — release the
    // checkpoint blocks before the long-lived stream starts
    graft.ops.DedupOps.releaseTruncated(bg)
    // -ln(1/T), not ln(T): quantize the exact form the model's own
    // cont_nll expression would produce for a count-1 word
    val contDefault =
      math.floor(-StrictMath.log(1.0 / tt.toDouble) *
        NllMicro.toDouble).toLong
    val spark0 = docs.sparkSession
    val bcLm = spark0.sparkContext.broadcast(lm)
    val bcBase = spark0.sparkContext.broadcast(base)
    val bcCont = spark0.sparkContext.broadcast(cont)
    val passthrough = docs.columns.map(col)
    docs
      .withColumn("ws",
        graft.ops.TextAnalyticsOps.words(lower(col("text"))))
      .select(passthrough ++ Seq(
        greatest(size(col("ws")) - 1, lit(0)).cast("long").as("n_bigrams"),
        graft.functions.native.lm_bigram_score_kn(col("ws"), bcLm,
          bcBase, bcCont, contDefault).as("kn_nll_micro_sum")): _*)
  }

  /**
   * Live KNESER-NEY TRIGRAM scoring — [[bigramKnScoreStream]] one
   * order up (`lm_score --order 3 --smoothing kn`; production
   * ppl-bucketing runs n ≥ 3 with interpolation): the full
   * interpolated-KN trigram model trains relationally by the batch
   * query's EXACT expressions (`PipelineQueries.kn3Stats` +
   * `kn3SeenNllMicro` — one shared definition, micro-nat identity by
   * construction for every seen triple), and backoff is the model's
   * own definition in quantized components one level deeper than the
   * bigram stream: seen context (a,b) + unseen triple → ctxBase(ab) +
   * midScore(b,c); unknown context → midScore(b,c); midScore = the
   * seen (b,c)-type NLL, else midBase(b) + cont(c), else cont(c);
   * unknown continuation word → the 1/T₂ floor. Each component is
   * floored to micro-nats before summing (spec-pinned per case).
   * Same bounded-broadcast contract: the build REFUSES past
   * `driverCap` distinct trigrams ([[DriverGate.collect]] of the
   * per-triple rows, which bound the other four collects), naming the
   * distributed batch form as the tool; five MINIMAL
   * driver round-trips (per-triple nll, per-context ctx_base,
   * per-(b,c) mid nll, per-middle-word mid base, per-word cont) read
   * a once-checkpointed stats frame — never one denormalized collect.
   */
  def trigramKnScoreStream(docs: DataFrame, corpus: DataFrame,
      driverCap: Long = DriverGate.cap(DriverGate.VocabRowBytes))
      : DataFrame = {
    import graft.queries.PipelineQueries.{KnDiscount, NllMicro}
    val tgCounts = corpus
      .select(graft.ops.TextAnalyticsOps.words(lower(col("text"))).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(explode(transform(sequence(lit(0), size(col("ws")) - 3),
        i => struct(element_at(col("ws"), i + 1).as("a"),
          element_at(col("ws"), i + 2).as("b"),
          element_at(col("ws"), i + 3).as("c")))).as("t"))
      .groupBy(col("t.a").as("a"), col("t.b").as("b"), col("t.c").as("c"))
      .agg(count(lit(1)).as("c_abc"))
    def micro(e: Column): Column =
      floor(e * lit(NllMicro.toDouble)).cast("bigint")
    // checkpointed once: the five model collects below all read it
    val tg = graft.queries.PipelineQueries.kn3Stats(tgCounts)
      .localCheckpoint()
    val triples = try {
      val rows = DriverGate.collect("lm_trigram_kn",
        tg.select(concat(col("a"), lit(" "), col("b"), lit(" "), col("c"))
            .as("k"),
          graft.queries.PipelineQueries.kn3SeenNllMicro.as("nll")),
        driverCap, "PipelineQueries.textTrigramKn")
      require(rows.nonEmpty,
        "KN trigram model is EMPTY (no corpus doc has three words) — " +
          "every score would read 0 micro-nats (probability 1) and a " +
          "downstream quality gate would admit everything; point " +
          "--corpus at a real text corpus")
      rows
    } catch { case e: IllegalArgumentException =>
      graft.ops.DedupOps.releaseTruncated(tg); throw e }
    val lm = new java.util.HashMap[String, java.lang.Long](triples.length * 2)
    triples.foreach(r => lm.put(r.getString(0), r.getLong(1)))
    val base = new java.util.HashMap[String, java.lang.Long]
    tg.select(concat(col("a"), lit(" "), col("b")).as("k"),
        micro(-log((lit(KnDiscount) * col("n1p_ab")) /
          col("c_ab").cast("double"))).as("ctx_base"))
      .distinct()
      .collect().foreach(r => base.put(r.getString(0), r.getLong(1)))
    val mid = new java.util.HashMap[String, java.lang.Long]
    tg.select(concat(col("b"), lit(" "), col("c")).as("k"),
        micro(-log(
          (greatest(col("n1p_dot_bc").cast("double") - lit(KnDiscount),
            lit(0.0)) +
            ((lit(KnDiscount) * col("n1p_b_dot")) *
              (col("n1p_dot_c").cast("double") /
                col("tt2").cast("double")))) /
          col("n1p_mid_b").cast("double"))).as("mid_nll"))
      .distinct()
      .collect().foreach(r => mid.put(r.getString(0), r.getLong(1)))
    val midBase = new java.util.HashMap[String, java.lang.Long]
    tg.select(col("b"),
        micro(-log((lit(KnDiscount) * col("n1p_b_dot")) /
          col("n1p_mid_b").cast("double"))).as("mid_base"))
      .distinct()
      .collect().foreach(r => midBase.put(r.getString(0), r.getLong(1)))
    val cont = new java.util.HashMap[String, java.lang.Long]
    var tt2 = 1L
    tg.select(col("c"),
        micro(-log(col("n1p_dot_c").cast("double") /
          col("tt2").cast("double"))).as("cont_nll"),
        col("tt2"))
      .distinct()
      .collect().foreach { r =>
        cont.put(r.getString(0), r.getLong(1)); tt2 = r.getLong(2)
      }
    graft.ops.DedupOps.releaseTruncated(tg)
    // -ln(1/T₂), not ln(T₂): quantize the exact form the model's own
    // cont_nll expression would produce for a count-1 word
    val contDefault =
      math.floor(-StrictMath.log(1.0 / tt2.toDouble) *
        NllMicro.toDouble).toLong
    val spark0 = docs.sparkSession
    val bcLm = spark0.sparkContext.broadcast(lm)
    val bcBase = spark0.sparkContext.broadcast(base)
    val bcMid = spark0.sparkContext.broadcast(mid)
    val bcMidBase = spark0.sparkContext.broadcast(midBase)
    val bcCont = spark0.sparkContext.broadcast(cont)
    val passthrough = docs.columns.map(col)
    docs
      .withColumn("ws",
        graft.ops.TextAnalyticsOps.words(lower(col("text"))))
      .select(passthrough ++ Seq(
        greatest(size(col("ws")) - 2, lit(0)).cast("long").as("n_trigrams"),
        graft.functions.native.lm_trigram_score_kn(col("ws"), bcLm,
          bcBase, bcMid, bcMidBase, bcCont, contDefault)
          .as("kn3_nll_micro_sum")): _*)
  }

  /**
   * Live REPEATED-SPAN gate — the streaming form of
   * `PipelineQueries.dedupSpans`, same offline-model / online-filter
   * split as [[lmScoreStream]]: the set of duplicated gram hashes is
   * learned from a static corpus ONCE at topology build
   * (`DedupOps.repeatedGramHashes` — the identical window rule the
   * gated batch query applies), collected to a SORTED primitive
   * long[] (8 bytes/hash, no boxing) and sc.broadcast; flagging is a
   * pure projection through the native
   * [[graft.functions.SpanFlagStats]] kernel — binary-search probes,
   * no state, no stream-static join (which would re-run the learn agg
   * every micro-batch — the measured lm_score failure mode),
   * Append-safe. When the streamed rows ARE the model corpus the
   * emitted (n_grams, n_dup, dup_tokens) equal the batch query's
   * exactly (RunTopologySpec pins it). Scale: the model is the
   * DUP-gram set of the reference corpus — bounded by the curated
   * corpus's repetition, not the stream; past `driverCap` hashes the
   * build refuses ([[DriverGate.collect]]) and the batch join form is
   * the right tool instead. Docs must carry a `text` column; all input
   * columns pass through.
   */
  def spanFlagStream(docs: DataFrame, corpus: DataFrame,
      n: Int = graft.queries.PipelineQueries.SpanN,
      driverCap: Long = DriverGate.cap(DriverGate.LongBytes)): DataFrame = {
    val dup = DriverGate.collect("span_flag",
        graft.ops.DedupOps.repeatedGramHashes(corpus, col("text"), n),
        driverCap, "PipelineQueries.dedupSpans")
      .map(_.getLong(0)).sorted
    val bc = docs.sparkSession.sparkContext.broadcast(dup)
    val passthrough = docs.columns.map(col)
    docs
      .withColumn("st", graft.functions.native.span_flag_stats(col("text"), n, bc))
      .select(passthrough ++ Seq(col("st.n_grams").as("n_grams"),
        col("st.n_dup").as("n_dup"), col("st.dup_tokens").as("dup_tokens")): _*)
  }

  /**
   * Live NEAR-DUP ADMISSION GATE — the streaming form of
   * `DedupOps.bandCollideAdmit`, the offline-model / online-filter
   * split of [[spanFlagStream]] applied to MinHash+LSH: the corpus's
   * combined band keys are learned ONCE at topology build
   * (`DedupOps.corpusBandKeys` — the identical xxhash64 chain the
   * batch candidate join matches on), collected to a SORTED primitive
   * long[] and sc.broadcast; each arriving doc is admitted iff NONE of
   * its bands collides (the candidate-stage gate — no exact-Jaccard
   * verify, see bandCollideAdmit for why that is the right trade
   * live). Flagging is one native [[graft.functions.LshBandCollide]]
   * kernel call per row — shingle → 64 minhash slots → band probes in
   * one JIT-friendly pass (the composed column form is 64 interpreted
   * HOF transforms — the measured 50× minhash-expression failure
   * mode). Stateless row-local filter, Append-safe, replay-stable.
   * Docs too short to shingle admit unconditionally (no bands ⇒ no
   * collision — bit-agreed with the batch explode, which drops them
   * before any signature exists). RunTopologySpec pins stream == batch
   * admit sets. Scale: the model is bands × |corpus| keys less
   * sharing — 8 bytes each, ~1.3 GB per 10⁹ history docs; past
   * `driverCap` keys the build refuses and the batch join form is the
   * right tool (the [[spanFlagStream]] bound). Docs must carry a
   * `text` column; all input columns pass through.
   */
  def nearDupGateStream(docs: DataFrame, corpus: DataFrame,
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      driverCap: Long = DriverGate.cap(DriverGate.LongBytes)): DataFrame = {
    val keys = DriverGate.collect("neardup_gate",
        graft.ops.DedupOps.corpusBandKeys(corpus, col("doc_id"),
          col("text"), k, bands, shingleN),
        driverCap, "DedupOps.bandCollideAdmit join")
      .map(_.getLong(0)).sorted
    val bc = docs.sparkSession.sparkContext.broadcast(keys)
    docs.filter(graft.functions.native
      .lsh_band_collide(col("text"), shingleN, k, bands, bc)
      .getField("n_collide") === 0L)
  }

  /**
   * Live IMAGE NEAR-DUP ADMISSION GATE — [[nearDupGateStream]]'s
   * semantics on the MULTIMODAL side, completing the gate family with
   * the first streaming image topology: the corpus's perceptual
   * hashes are computed ONCE at topology build (the batch
   * `MultimodalOps.phashPartitioned` decode, quarantined images
   * excluded — the mm_phash_neardup corpus rule) and bucketed into
   * the broadcastable [[graft.ops.MultimodalOps.PhashBandIndex]] —
   * the SAME 28 C(8,2) block-pair keys the batch
   * `DedupOps.hammingNearDups64` joins on, so the live probe finds
   * the EXACT nearest within-radius corpus image by pigeonhole, never
   * a miss, never all-pairs. Each arriving image pays one
   * partition-batched decode + hash + 28 map lookups
   * ([[graft.ops.MultimodalOps.phashGatePartitioned]]); every input
   * column passes through (Row-merge) plus (width, height, phash,
   * matched_id, hamming, decision ∈ admit/neardup/quarantine) — the
   * decision column instead of a silent filter is the mm-family
   * observability convention (quarantine routing matters). Stateless,
   * Append-safe, replay-stable. Same bounded-broadcast contract as
   * the text gates: the build REFUSES past `driverCap` decoded
   * hashes ([[DriverGate.collect]]), and an EMPTY corpus refuses
   * loud (a gate over zero fingerprints would admit everything —
   * the buildHybridIndex rule). Scale: the model is ~28 int entries
   * + 16 bytes per corpus image — ~0.2 GB per 10⁹ images; past
   * executor memory the batch banded join is the right tool. Images
   * must carry a `png` binary column.
   */
  def phashGateStream(images: DataFrame, corpus: DataFrame,
      maxHamming: Int =
        graft.queries.PipelineQueries.PhashNeardupMaxHamming,
      driverCap: Long = DriverGate.cap(DriverGate.PairBytes)): DataFrame = {
    val hashed = DriverGate.collect("phash_gate",
      graft.ops.MultimodalOps.phashPartitioned(corpus, "img_id", "png", 0)
        .toDF()
        .filter(col("width") =!= -1)
        .select(col("id"), col("phash")),
      driverCap, "banded join PipelineQueries.mmPhashNeardup")
    require(hashed.nonEmpty,
      "phash gate corpus is EMPTY (no image decoded) — a gate over " +
        "zero fingerprints would admit everything; point --corpus at " +
        "a real image corpus")
    val idx = graft.ops.MultimodalOps.PhashBandIndex(
      hashed.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    val bc = images.sparkSession.sparkContext.broadcast(idx)
    graft.ops.MultimodalOps.phashGatePartitioned(
      images, "png", bc, maxHamming)
  }

  /**
   * Live VIDEO near-dup admission gate — the `phash_gate` device
   * lifted to FRAME SEQUENCES (the streaming form of
   * `PipelineQueries.mmVideoNeardup`'s qualification rule): corpus
   * clips (columns `corpusIdCol`/`corpusBytesCol`, BY NAME — a
   * user-supplied parquet with reordered columns must not silently
   * bind the wrong field; container magic-sniffed per clip — GIF or
   * MJPEG-AVI) are decoded +
   * per-frame hashed ONCE at topology build (the
   * SHARED batch decode — stream and batch hash the same pixels by
   * construction), bucketed into one banded image index PER FRAME
   * POSITION plus frame counts (`MultimodalOps.VideoBandIndex`), and
   * broadcast; each arriving clip pays one partition-batched decode +
   * one DCT per frame + an intersected banded probe — EXACT against
   * the batch rule (same count + every aligned frame within radius)
   * by the per-frame pigeonhole. Decisions
   * admit/neardup/quarantine with matched_id + max_hamming
   * observability, full column passthrough. Empty corpus and the
   * index cap (`driverCap` frames, [[DriverGate.collect]]) refuse
   * loud.
   */
  def videoGateStream(clips: DataFrame, corpus: DataFrame,
      maxHamming: Int =
        graft.queries.PipelineQueries.VideoFrameMaxHamming,
      driverCap: Long = DriverGate.cap(DriverGate.TripleBytes),
      bytesCol: String = "gif",
      corpusIdCol: String = "clip_id",
      corpusBytesCol: String = "gif"): DataFrame = {
    val hashed = DriverGate.collect("video_gate",
      graft.ops.MultimodalOps.videoFramePhashesPartitioned(
          corpus, corpusIdCol, corpusBytesCol, brightShift = 0)
        .toDF()
        .filter(col("width") =!= -1)
        .select(col("id"), col("frame"), col("phash")),
      driverCap, "aligned banded join PipelineQueries.mmVideoNeardup")
    require(hashed.nonEmpty,
      "video gate corpus is EMPTY (no clip decoded) — a gate over " +
        "zero fingerprints would admit everything; point --corpus at " +
        "a real clip corpus")
    val idx = graft.ops.MultimodalOps.VideoBandIndex(
      hashed.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    val bc = clips.sparkSession.sparkContext.broadcast(idx)
    graft.ops.MultimodalOps.videoGatePartitioned(
      clips, bytesCol, bc, maxHamming)
  }

  /**
   * Live AUDIO near-dup admission gate — completes the admission-gate
   * family (text quality/gopher/decontaminate/lm_score, embedding
   * outlier, image phash_gate, video video_gate, linkage er_gate)
   * with the envelope-DCT fingerprint of
   * `PipelineQueries.mmAudioFingerprint`: corpus clips (columns
   * `corpusIdCol`/`corpusBytesCol`, BY NAME — the video_gate
   * contract) are decoded + fingerprinted ONCE
   * at topology build through the SHARED
   * `MultimodalOps.audioClipFingerprint` (stream and batch hash the
   * same samples by construction), banded into the hash-agnostic
   * `PhashBandIndex` (any 64-bit fingerprint bands into the same
   * C(8,2) block pairs), and broadcast; each arriving clip pays one
   * partition-batched decode + one 64-point DCT + one banded probe —
   * EXACT over the radius by the pigeonhole, so the gate's verdicts
   * agree clip for clip with the batch `mm_audio_neardup` pairs.
   * Decisions admit/neardup/quarantine with matched_id + hamming
   * observability, full column passthrough. Amplitude-scaled
   * re-masters match at hamming ~0 (the fingerprint's invariance
   * class); reversed audio sits tens of bits out — the committed
   * fixture's ground truth, spec-pinned.
   *
   * Guardrails (the phash-gate corpus conventions): empty corpus and
   * the index cap (`driverCap` clips, [[DriverGate.collect]]) refuse
   * loud.
   */
  def audioGateStream(clips: DataFrame, corpus: DataFrame,
      maxHamming: Int =
        graft.queries.PipelineQueries.AudioNeardupMaxHamming,
      driverCap: Long = DriverGate.cap(DriverGate.PairBytes),
      bytesCol: String = "wav",
      corpusIdCol: String = "clip_id",
      corpusBytesCol: String = "wav"): DataFrame = {
    val hashed = DriverGate.collect("audio_gate",
      graft.ops.MultimodalOps.audioFingerprintPartitioned(
          corpus, corpusIdCol, corpusBytesCol)
        .toDF()
        .filter(col("sample_rate") =!= -1)
        .select(col("id"), col("fp")),
      driverCap, "banded join PipelineQueries.mmAudioNeardup")
    require(hashed.nonEmpty,
      "audio gate corpus is EMPTY (no clip decoded) — a gate over " +
        "zero fingerprints would admit everything; point --corpus at " +
        "a real audio corpus")
    val idx = graft.ops.MultimodalOps.PhashBandIndex(
      hashed.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    val bc = clips.sparkSession.sparkContext.broadcast(idx)
    graft.ops.MultimodalOps.audioGatePartitioned(
      clips, bytesCol, bc, maxHamming)
  }

  /**
   * Live ENTITY-LINKAGE GATE — the streaming form of
   * `LinkageQueries.erMatches`' resolution (link noisy arriving
   * mentions to a curated catalog at ingest): the entity catalog is
   * aggregated ONCE at topology build (`LinkOps.entityCatalog` over
   * the static reference relation) and its block-array index
   * MATERIALIZED with `localCheckpoint`, so no stream-static subplan
   * re-runs the catalog aggregation per micro-batch (the measured
   * lm_score failure mode); every arriving mention then resolves
   * through the IDENTICAL `LinkOps.resolveAgainst` the batch query
   * uses — broadcast join on the block key + row-local thresholded
   * levenshtein argmin, stream == batch by shared definition.
   * Decisions: "match" (entity_id / entity_name / lev attached) or
   * "nomatch" (nulls); every input column passes through. Stateless →
   * Append mode, deterministic under replay.
   *
   * Guardrails (the phash-gate corpus conventions): an EMPTY catalog
   * refuses loudly — a gate over zero entities would mark everything
   * nomatch; an index past `maxCatalog` candidate entries refuses —
   * a broadcast that size risks executor memory, and catalog-scale
   * linkage belongs to the batch blocked join (`er_matches`). Index
   * size is counted from the CHECKPOINTED frame, never collected.
   */
  def erGateStream(mentions: DataFrame, catalog: DataFrame,
      idCol: String, nameCol: String,
      maxDist: Int = graft.queries.LinkageQueries.MaxDist,
      maxCatalog: Long = 4000000L): DataFrame = {
    val ents = graft.ops.LinkOps.entityCatalog(
      catalog, col(idCol), col(nameCol)).localCheckpoint()
    // BOTH blocking passes materialized at build (the batch
    // er_matches architecture: prefix + suffix, candidates unioned
    // row-locally at resolve time)
    val idxP = graft.ops.LinkOps.blockArrayIndex(
      ents, maxDist, graft.ops.LinkOps.blockKey).localCheckpoint()
    val idxS = graft.ops.LinkOps.blockArrayIndex(
      ents, maxDist, graft.ops.LinkOps.suffixKey).localCheckpoint()
    // ONE driver action sizes both checkpointed indexes — but the cap
    // compares the LARGER pass, not the two-pass sum: each pass is
    // its own broadcast, so summing would silently halve the
    // effective catalog capacity vs the single-pass gate this
    // replaced (the r19 ADVICE finding).
    val perPass = idxP
      .select(size(col("cands")).as("n"), lit(1).as("pass"))
      .unionAll(idxS.select(size(col("cands")).as("n"), lit(2).as("pass")))
      .groupBy(col("pass")).agg(sum(col("n")).as("n"))
      .collect().map(_.getAs[Long]("n"))
    val total = perPass.sum
    val maxPass = if (perPass.isEmpty) 0L else perPass.max
    require(total > 0,
      "er gate catalog is EMPTY (no entities) — a gate over zero " +
        "entities would mark every mention nomatch; point --catalog " +
        "at a real reference relation")
    require(maxPass <= maxCatalog,
      s"er gate block index holds $maxPass candidate entries in its " +
        s"larger blocking pass ($total across the prefix + suffix " +
        s"passes — each pass broadcasts separately) > cap " +
        s"$maxCatalog; a broadcast this size risks executor memory — " +
        "link with the batch blocked join (LinkageQueries.erMatches) " +
        "instead, or raise maxCatalog if the memory budget allows")
    graft.ops.LinkOps.resolveAgainst(mentions, idxP, idxS, maxDist)
      .withColumn("decision",
        when(col("best").isNotNull, lit("match")).otherwise(lit("nomatch")))
      .withColumn("entity_id", col("best")("entity_id"))
      .withColumn("entity_name", col("best")("entity_name"))
      .withColumn("lev", col("best")("lev"))
      .drop("best")
  }

  /**
   * Live EMBEDDING OUTLIER GATE — the streaming form of
   * `PipelineQueries.embedOutliers`' cut, completing the admission-gate
   * family on the embedding side: k-means prototypes are trained ONCE
   * at topology build from a static corpus (`SimilarityOps
   * .kmeansCentroids` — the same decimal-exact Lloyd the batch
   * queries share), embedded as codegen reference objects/literals,
   * and every arriving vector is scored against its OWN nearest
   * centroid by the IDENTICAL row-local expressions the batch query
   * applies (`SimilarityOps.centroidScore` — one `IvfProbeCells`
   * kernel + k literal-vector dot kernels; no stream-static join to
   * re-run the training per micro-batch, the measured lm_score
   * failure mode). Vectors below the cosine floor are dropped;
   * admitted rows pass through with (cell, cos_r) appended — the
   * prototype-distance observability a curation monitor wants.
   * Stateless, Append-safe, replay-stable. Scale: the model is k×dim
   * floats — trivially broadcastable at any real k; training cost is
   * the batch Lloyd, paid once at build. Docs must carry an
   * `embedding` column (array<float>). RunTopologySpec pins admitted
   * set + scores == the batch query.
   */
  def outlierGateStream(vecs: DataFrame, corpus: DataFrame, k: Int,
      iters: Int, threshold: Double): DataFrame = {
    val cents = graft.ops.SimilarityOps.kmeansCentroids(corpus, k, iters)
    graft.ops.SimilarityOps.centroidScore(vecs, cents, threshold)
      .filter(!col("is_outlier"))
      .drop("is_outlier")
  }

  /**
   * Live EMBEDDING NEAR-DUP ADMISSION GATE — [[nearDupGateStream]]'s
   * semantics on the embedding side, completing the gate family: the
   * corpus's combined LSH band keys are learned ONCE at topology build
   * (`SimilarityOps.embeddingBandKeys` — the identical sign-projection
   * banding the batch admit joins on), collected to a SORTED primitive
   * long[] and sc.broadcast — bounded by `tables · 2^bits` keys (≈ 16 k
   * at the defaults) REGARDLESS of corpus size, the one gate whose
   * model cannot outgrow an executor. Each arriving vector is admitted
   * iff NONE of its bands collides; probing is one native
   * [[graft.functions.EmbBandCollide]] kernel call per row (all planes
   * + all band binary-searches in one JIT-friendly pass — the composed
   * form is bits×tables hash expressions plus a membership scan).
   * Stateless row-local filter, Append-safe, replay-stable.
   * RunTopologySpec pins stream == batch
   * (`SimilarityOps.bandCollideAdmitEmbedding`) admit sets. Vectors
   * must carry an `embedding` column (array<float>); all input columns
   * pass through.
   */
  def embedNearDupGateStream(vecs: DataFrame, corpus: DataFrame,
      bits: Int = graft.ops.SimilarityOps.GateBandBits,
      tables: Int = graft.ops.SimilarityOps.GateBandTables): DataFrame = {
    val keys = graft.ops.SimilarityOps.embeddingBandKeys(corpus, bits, tables)
      .collect().map(_.getLong(0)).sorted
    val bc = vecs.sparkSession.sparkContext.broadcast(keys)
    vecs.filter(graft.functions.native
      .emb_band_collide(col("embedding"), bits, tables, bc)
      .getField("n_collide") === 0L)
  }

  /**
   * Live CHARACTER-ENTROPY band gate — the corpus-relative
   * offline-statistic / online-filter split (quality_cut's pattern)
   * over `text_entropy`'s signal: the [p5, p95] entropy-micro
   * quantiles are learned ONCE at topology build from a static corpus
   * and applied as literal BAND bounds — degenerate text ("aaaa…")
   * sits at the low extreme and garbled/encoded content at the high
   * one, so the keep region is two-sided where quality_cut's is not.
   * Scoring is one row-local [[graft.functions.CharEntropy]] kernel
   * call per row; stateless, Append-safe, replay-stable. Admitted
   * rows carry (n_cp, entropy_micro) observability. Scale: the model
   * is TWO longs; training is one corpus kernel pass + a 2-value
   * percentile_approx (exact percentile would sort the doc-count
   * frame; the approx sketch is the uv_approx trade, fine for a gate
   * threshold). Docs must carry a `text` column.
   */
  def entropyGateStream(docs: DataFrame, corpus: DataFrame): DataFrame = {
    val bounds = corpus
      .select(graft.functions.native.char_entropy(col("text"))
        .getField("entropy_micro").as("e"))
      .agg(percentile_approx(col("e"), array(lit(0.05), lit(0.95)),
        lit(10000)).as("q"))
      .head().getSeq[Long](0)
    require(bounds != null && bounds.length == 2,
      "entropyGateStream: corpus has no scorable text rows — the " +
        "quantile bounds cannot be learned; point --corpus at a " +
        "non-empty documents table")
    val (lo, hi) = (bounds(0), bounds(1))
    val passthrough = docs.columns.map(col)
    docs
      .withColumn("ce",
        graft.functions.native.char_entropy(col("text")))
      .select(passthrough ++ Seq(col("ce.n_cp").as("n_cp"),
        col("ce.entropy_micro").as("entropy_micro")): _*)
      .filter(col("entropy_micro").between(lo, hi))
  }

  /**
   * Live WINNOWING admission gate — the [[nearDupGateStream]] split at
   * winnowing granularity, completing the text-admission family with
   * its POSITION-GUARANTEED member: the corpus's rare fingerprint
   * hashes (document frequency ≤ WinnowMaxDf — the stopword-
   * fingerprint device, so ubiquitous grams can't veto everything) are
   * learned ONCE at topology build
   * (`PipelineQueries.rareWinnowFingerprints`), collected to a SORTED
   * primitive long[] and sc.broadcast; an arriving doc is admitted iff
   * FEWER than WinnowMinShared of its distinct fingerprints collide —
   * and because winnowing guarantees any shared verbatim run of
   * K+W−1 words yields a shared fingerprint, a long verbatim overlap
   * with the corpus CANNOT slip between sampled shingles the way a
   * MinHash band can probabilistically miss (dedup_eval measures that
   * gap). One native [[graft.functions.WinnowCollide]] kernel call
   * per row (deque selection + per-doc dedup + binary-search probes);
   * stateless, Append-safe, replay-stable. Aggregate-vs-corpus
   * semantics (collisions counted against the whole model, not per
   * partner doc) — the admission form of dedupWinnow's pairwise rule;
   * RunTopologySpec pins stream == the batch relational rule. Scale:
   * model = rare-fingerprint count × 8 B — bounded by the df cap ×
   * vocabulary, the spanFlagStream bound (refused past `driverCap`
   * fingerprints). Docs must carry `text`.
   */
  def winnowGateStream(docs: DataFrame, corpus: DataFrame,
      driverCap: Long = DriverGate.cap(DriverGate.LongBytes)): DataFrame = {
    import graft.queries.PipelineQueries
    val model = DriverGate.collect("winnow_gate",
        PipelineQueries.rareWinnowFingerprints(
          PipelineQueries.winnowDocFingerprints(corpus)),
        driverCap, "PipelineQueries.dedupWinnow")
      .map(_.getLong(0)).sorted
    val bc = docs.sparkSession.sparkContext.broadcast(model)
    docs.filter(graft.functions.native
      .winnow_collide(col("text"), PipelineQueries.WinnowK,
        PipelineQueries.WinnowW, bc)
      .getField("n_collide") < PipelineQueries.WinnowMinShared)
  }

  /**
   * Live TRAINED-CLASSIFIER admission gate — `classify_train`'s learn
   * stage deployed: the logistic-regression weight table is trained
   * ONCE at topology build from a labeled static corpus
   * (`PipelineQueries.trainClassifierWeights` — the identical
   * quantized-GD learner the gated batch query runs and the DuckDB
   * oracle reproduces), broadcast as a 64-long array, and each
   * arriving doc is admitted iff its quantized margin is positive —
   * the model's own prediction arithmetic (Σ_b floor(w_b·c_b /
   * n_words)), computed by one native
   * [[graft.functions.ClassifyTrainedMargin]] kernel call per row.
   * Where `classify_gate` applies the FROZEN weight formula, this is
   * the train→deploy loop closed: retrain on a fresh corpus, rebuild
   * the topology, the gate serves the new model. Stateless,
   * Append-safe, replay-stable; admitted rows carry (n_words,
   * margin_micro) for observability. Docs must carry a `text` column;
   * all input columns pass through.
   */
  def trainedClassifyGateStream(docs: DataFrame, corpus: DataFrame): DataFrame = {
    val w = graft.queries.PipelineQueries.trainClassifierWeights(corpus)
    val bc = docs.sparkSession.sparkContext.broadcast(w)
    val passthrough = docs.columns.map(col)
    docs
      .withColumn("tc",
        graft.functions.native.classify_trained_margin(lower(col("text")), bc))
      .select(passthrough ++ Seq(col("tc.n_words").as("n_words"),
        col("tc.margin_micro").as("margin_micro")): _*)
      .filter(col("margin_micro") > 0L)
  }

  /**
   * Live DSIR admission gate — the streaming form of
   * `PipelineQueries.sampleDsir`'s selection, offline-model /
   * online-filter like [[trainedClassifyGateStream]]: the B-row
   * micro-nat log-ratio model and the batch top-N's minimum score are
   * learned ONCE at topology build from a static (lang, text) corpus;
   * each live document then scores in ONE native [[graft.functions
   * .DsirScore]] kernel call (md5-60 bucket per word, exact integer
   * sum over the broadcast long[]) and is admitted iff its log
   * importance weight clears the threshold. A rank cut is not
   * streamable, so the gate's contract is the SCORE-threshold form:
   * ties AT the batch cutoff admit (the batch rank breaks them by
   * doc_id; a gate has no corpus to rank against). Buckets unseen in
   * the corpus take the natural add-one-smoothing value for zero
   * counts — a novel live word neither crashes nor silently drops.
   * Wordless documents reject (no evidence of target fit — the batch
   * ranking likewise never selects them). Stateless, Append-safe,
   * replay/retry-stable; docs must carry `text`, all input columns
   * pass through.
   */
  def dsirGateStream(docs: DataFrame, corpus: DataFrame): DataFrame = {
    import graft.queries.PipelineQueries
    val spark = docs.sparkSession
    val b = PipelineQueries.DsirBuckets
    val rows = PipelineQueries.dsirModel(corpus).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1), r.getLong(2), r.getLong(3)))
    require(rows.nonEmpty,
      "dsirGateStream: the corpus yielded no scorable words — the gate " +
        "cannot learn a model or threshold from an empty/wordless corpus")
    val rtot = rows.map(_._2).sum
    val ttot = rows.map(_._3).sum
    val unseen = math.floor(math.log(
      (1.0 * (rtot + b)) / (1.0 * (ttot + b))) * 1000000.0).toLong
    val model = Array.fill(b)(unseen)
    rows.foreach { case (bk, _, _, lr) => model(bk) = lr }
    val bc = spark.sparkContext.broadcast(model)
    // threshold from the SAME kernel the gate scores with (pinned
    // equal to the relational dsirScores by RunTopologySpec), so the
    // learn phase is one corpus pass instead of re-deriving the model
    // in-plan a second time
    val thr = corpus
      .select(col("doc_id"),
        graft.functions.native.dsir_score(lower(col("text")), bc).as("ds"))
      .select(col("doc_id"), col("ds.n_words").as("n_words"),
        col("ds.logw_micro").as("logw_micro"))
      .filter(col("n_words") > 0L)
      .orderBy(col("logw_micro").desc, col("doc_id"))
      .limit(PipelineQueries.DsirN.toInt)
      .agg(min(col("logw_micro"))).head().getLong(0)
    val passthrough = docs.columns.map(col)
    docs
      .withColumn("ds", graft.functions.native.dsir_score(lower(col("text")), bc))
      .select(passthrough ++ Seq(col("ds.n_words").as("n_words"),
        col("ds.logw_micro").as("logw_micro")): _*)
      .filter(col("n_words") > 0L && col("logw_micro") >= thr)
  }

  /** The learned (source, keep-threshold) entries of [[mixSampleGate]],
   *  collected ONCE — a caller that also needs the source names (the
   *  `mix_sample` topology's demo labeler) shares this single collect
   *  instead of re-deriving the threshold frame per consumer (and the
   *  entries are sorted by source so downstream label indexing is
   *  deterministic). */
  def mixThresholdEntries(corpus: DataFrame): Array[(String, Long)] =
    graft.queries.PipelineQueries.mixThresholds(
      corpus.select(col("source"),
        graft.ops.TextAnalyticsOps.wsTokenCount(col("text")).as("n_tokens")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)

  /**
   * Live temperature-mixture SAMPLING GATE — the streaming form of
   * `PipelineQueries.mixSample`, offline-statistic / online-filter
   * like [[lmScoreStream]] and [[spanFlagStream]]: the per-source keep
   * thresholds ([[mixThresholdEntries]]) are learned ONCE at topology
   * build from a static corpus
   * (the gated batch query's own `mixThresholds` arithmetic), embedded
   * as a LITERAL map (source-count entries — codegen'd lookup, no
   * broadcast join whose static subtree would re-run per micro-batch),
   * and the keep decision is the identical row-local md5-prefix
   * predicate — stateless, Append-safe, replay/retry-stable. A source
   * unseen at learn time keeps EVERYTHING: absent from the learned
   * mixture means zero natural share, so its rate capped at 1 — the
   * same cap the batch query applies to under-target sources. Docs
   * must carry (source, text); all input columns pass through.
   */
  def mixSampleGate(docs: DataFrame,
      thresholds: Array[(String, Long)]): DataFrame = {
    import graft.queries.PipelineQueries
    val tmap = map(thresholds.flatMap {
      case (s, t) => Seq(lit(s), lit(t)) }.toIndexedSeq: _*)
    docs.filter(PipelineQueries.mixHash24(col("text")) <
      coalesce(element_at(tmap, col("source")),
        lit(PipelineQueries.MixHashSpace)))
  }

  /**
   * Live LANGID CONFUSION MONITOR — the streaming form of
   * `PipelineQueries.textLangIdEval`: running (label, prediction)
   * confusion counts as a Complete-mode aggregate — the
   * [[mixWeightsStream]] output-mode reasoning verbatim: the group
   * count is |langs|² and BOUNDED BY THE KERNEL'S LABEL SET, so the
   * full-snapshot re-emission is exactly the matrix a monitor wants,
   * and state can never grow past it. The prediction is the same
   * row-local `LangId` kernel the batch query applies. Docs must
   * carry (lang, text). StreamOpsSpec pins each snapshot against the
   * batch agg over everything seen.
   */
  def langIdEvalStream(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"),
      graft.ops.TextAnalyticsOps.langId(col("text")).as("lang_pred"))
      .agg(count(lit(1)).as("n"))

  /**
   * Live TRAINED language-ID — the streaming form of
   * `PipelineQueries.textLangIdNb` (the char-bigram Naive Bayes),
   * same offline-model/online-score split as [[lmScoreStream]]: the
   * Laplace grid and log-priors are learned ONCE at topology build by
   * the IDENTICAL batch formulation over the static corpus (so the
   * integer micro-nat values match by construction), collected
   * (vocab × langs rows — bounded by the character alphabet squared,
   * refused past `driverCap` rows by [[DriverGate.collect]], which
   * names the distributed batch join as the alternative), and broadcast as a bigram →
   * lang-indexed score array probed by the native
   * [[graft.functions.NbLangId]] codegen kernel — one row-local call
   * per line, zero joins, zero state. Contract deltas vs batch: a
   * post-training NOVEL bigram contributes nothing (the batch inner
   * join's semantics), and a line with < 2 characters labels as the
   * prior argmax instead of dropping (a live gate must label every
   * line); stream == batch is spec-pinned on the corpus itself.
   */
  def nbLangIdStream(docs: DataFrame, corpus: DataFrame,
      driverCap: Long = DriverGate.cap(DriverGate.VocabRowBytes))
      : DataFrame = {
    val (modelF, priorsF) = graft.queries.PipelineQueries
      .langIdNbModelFrames(corpus.select(col("lang"), col("text")))
    val (bcM, bcP, bcL) = graft.queries.PipelineQueries
      .nbLangIdBroadcast(DriverGate.collect("nb_langid", modelF, driverCap,
        "PipelineQueries.textLangIdNb (its distributed arm)"), priorsF)
      .getOrElse(throw new IllegalArgumentException(
        "NB langid model is empty (no labeled docs with >= 2 chars " +
          "in the corpus) — nothing to score against; fix the corpus " +
          "or use the stopword heuristic topology (langid_eval)"))
    val passthrough = docs.columns.map(col)
    // coalesce: a NULL text labels like an empty one (prior argmax) —
    // the kernel's null-propagation would emit lang_pred = NULL, the
    // exact vanishing a live labeler must not do
    docs.select(passthrough :+
      graft.functions.native.nb_langid(
        lower(coalesce(col("text"), lit(""))), bcM, bcP, bcL)
        .getField("lang_pred").as("lang_pred"): _*)
  }

  /**
   * Live PERPLEXITY-BUCKET labeling — the streaming form of
   * `PipelineQueries.textPplBuckets` (the CCNet gate applied at
   * ingest): the two bucket thresholds are learned ONCE at topology
   * build from the static corpus by the IDENTICAL batch formulation
   * (`unigramNllOf` + interpolated tertiles — a 2-double model, the
   * cheapest in the gate family), and arriving lines are scored by
   * [[lmScoreStream]]'s broadcast unigram model + kernel, then
   * labeled by the same CASE. Known-vocabulary lines bucket exactly
   * as the batch query would (RunTopologySpec pins the corpus replay
   * row-for-row); OOV words carry the model's singleton-ceiling cost
   * (the lm_score contract), pushing them toward 'tail' — the
   * drop-side answer a filter wants for unknown text. Empty lines
   * (n_words = 0, no perplexity defined) also label 'tail' rather
   * than vanishing: a live gate never silently swallows rows.
   */
  def pplBucketStream(docs: DataFrame, corpus: DataFrame): DataFrame = {
    val thr = graft.queries.PipelineQueries.unigramNllOf(corpus)
      .select(floor(col("nll_micro_sum") / col("n_words"))
        .cast("bigint").as("s"))
      .agg(percentile(col("s"), lit(1.0 / 3)).as("t1"),
        percentile(col("s"), lit(2.0 / 3)).as("t2"))
      .collect().head
    val (t1, t2) = (thr.getDouble(0), thr.getDouble(1))
    lmScoreStream(docs, corpus)
      .withColumn("mean_nll_micro", when(col("n_words") > 0,
        floor(col("nll_micro_sum") / col("n_words")).cast("bigint")))
      .withColumn("ppl_bucket",
        when(col("mean_nll_micro").isNull, lit("tail"))
          .when(col("mean_nll_micro") < t1, lit("head"))
          .when(col("mean_nll_micro") < t2, lit("middle"))
          .otherwise(lit("tail")))
  }

  /**
   * Live CORPUS-REPORT monitor — the streaming form of
   * `PipelineQueries.corpusReport`: running per-source doc/token
   * totals, micro-quantized quality-score sum, langid/label
   * disagreements, and classifier keep counts, via the IDENTICAL
   * shared `corpusReportAgg` plan (four row-local kernels + one
   * grouped agg — nothing in it is batch-only). Complete mode by the
   * [[mixWeightsStream]] reasoning: the group count is |sources|,
   * bounded by construction, and the full snapshot IS the dashboard a
   * monitor re-renders per trigger. Docs must carry
   * (source, lang, text). StreamOpsSpec pins each snapshot against
   * the batch agg over everything seen.
   */
  def corpusReportStream(docs: DataFrame): DataFrame =
    graft.queries.PipelineQueries.corpusReportAgg(docs)

  /**
   * Live MIXTURE MONITOR — the streaming form of
   * `PipelineQueries.mixWeights`: running per-source doc/token totals
   * as a Complete-mode aggregate (group count = sources, bounded by
   * construction — the one output mode whose re-emission is exactly
   * the full snapshot the normalizer needs), with the temperature
   * weights computed per trigger in foreachBatch over that snapshot
   * via the SAME `weightsOf` the gated batch query uses. A chained
   * streaming agg (totals → normalizer) would be unsupported — and
   * unnecessary: the per-trigger batch is a static frame. State is one
   * (count, sum) pair per source: O(sources).
   */
  def mixWeightsStream(docs: DataFrame): ForeachTrigger = {
    val totals = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(graft.ops.TextAnalyticsOps.wsTokenCount(col("text")))
        .as("n_tokens"))
    ForeachTrigger(totals, OutputMode.Complete,
      (batch, _) => graft.queries.PipelineQueries.weightsOf(batch))
  }

  /**
   * Live ANOMALY gate — the streaming form of
   * `AnalyticsQueries.eventAnomalies`: the per-type (mean, σ) model
   * is learned ONCE at topology build from a history table by the
   * IDENTICAL decimal-exact batch formulation (`anomalyStats`) and
   * embedded as literal maps (|event_types| entries — tiny, the
   * mix_sample threshold-map device); arriving events flag row-locally
   * when |value − m| > kσ. The same offline-model/online-filter split
   * as lm_score: a chained streaming agg could not both maintain the
   * moments and filter against them in one query, and a monitor wants
   * the FROZEN baseline anyway — yesterday's distribution judging
   * today's stream, retrained on an operator's schedule. Events of a
   * type absent from the history pass unflagged (no baseline — the
   * conservative answer for an alerting gate; the batch join drops
   * them identically).
   */
  def anomalyGateStream(events: DataFrame, history: DataFrame,
      sigma: Double = graft.queries.AnalyticsQueries.AnomalySigma)
      : DataFrame = {
    val stats = graft.queries.AnalyticsQueries.anomalyStats(history)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    require(stats.nonEmpty, "anomaly_gate: empty history — no baseline")
    val mMap = map(stats.flatMap { case (t, m, _) =>
      Seq(lit(t), lit(m)) }.toIndexedSeq: _*)
    val sdMap = map(stats.flatMap { case (t, _, sd) =>
      Seq(lit(t), lit(sd)) }.toIndexedSeq: _*)
    events
      .withColumn("m", element_at(mMap, col("event_type")))
      .withColumn("sd", element_at(sdMap, col("event_type")))
      .filter(col("m").isNotNull &&
        abs(col("value") - col("m")) > lit(sigma) * col("sd"))
      .withColumn("z_r", round((col("value") - col("m")) / col("sd"), 4))
      .drop("m", "sd")
  }

  /**
   * Live FUNNEL state machine — the streaming form of
   * `AnalyticsQueries.eventFunnel`: one (stage, qualifying-time) pair
   * of keyed state per user; an arriving event ADVANCES its user
   * exactly when it is the next stage's type, strictly after the
   * qualifying time, and within the attribution window — the batch
   * CTE chain restated as a transition rule. Emits one Append row per
   * advance (user_id, stage, event_type, ts); counting rows per stage
   * downstream reproduces the batch funnel. Ordering contract: events
   * are processed in event-time order WITHIN each trigger (sorted
   * here); across triggers, first-touch semantics make a late-arriving
   * EARLIER event unable to retract an already-taken advance — the
   * same running-state contract as the reference's per-bolt state
   * (RunTopologySpec pins an in-order replay transition-for-transition
   * against the batch stage frames). State is one (int, long) per user
   * seen, NoTimeout — bounded by the user domain; an unbounded domain
   * takes the [[runningCountTtl]] event-time-TTL device.
   */
  def funnelStream(events: DataFrame,
      stages: Seq[String] = graft.queries.AnalyticsQueries.FunnelStages,
      windowSec: Long = graft.queries.AnalyticsQueries.FunnelWindowSec)
      : DataFrame = {
    val spark0 = events.sparkSession
    import spark0.implicits._
    val winMicros = windowSec * 1000000L
    events
      .select(col("user_id").cast("long"), col("event_type"),
        col("ts").cast("timestamp_ntz"))
      .na.drop()
      .as[(Long, String, java.time.LocalDateTime)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Int, Long),
          (Long, Int, String, java.time.LocalDateTime)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, String, java.time.LocalDateTime)],
            state: GroupState[(Int, Long)]) =>
          def micros(t: java.time.LocalDateTime): Long = {
            val i = t.toInstant(java.time.ZoneOffset.UTC)
            i.getEpochSecond * 1000000L + i.getNano / 1000L
          }
          var (stage, t0) = state.getOption.getOrElse((0, 0L))
          val out = rows.toSeq.sortBy(e => micros(e._3)).flatMap {
            case (_, tpe, ts) =>
              val t = micros(ts)
              val advances = stage < stages.length && tpe == stages(stage) &&
                (stage == 0 || (t > t0 && t <= t0 + winMicros))
              if (advances) {
                stage += 1; t0 = t
                Some((uid, stage, tpe, ts))
              } else None
          }
          state.update((stage, t0))
          out.iterator
      }.toDF("user_id", "stage", "event_type", "ts")
  }

  /**
   * Watermarked stream-stream interval join: right rows within
   * `[left.ts, left.ts + gap]` on an equality key — the streaming form
   * of JoinOps.bandedRangeJoin, using Spark's native stream-stream join.
   * The watermarks plus the two-sided time condition bound BOTH state
   * stores: each side evicts rows once the other side's watermark passes
   * the join window, so state is O(gap x rate), not O(stream). Column
   * names must be disjoint apart from the range condition's inputs
   * (pre-alias the sides); `keyEq` is the equality predicate.
   */
  def streamingRangeJoin(left: DataFrame, right: DataFrame, keyEq: Column,
      leftTs: String, rightTs: String, gap: String,
      watermarkDelay: String): DataFrame =
    left.withWatermark(leftTs, watermarkDelay)
      .join(right.withWatermark(rightTs, watermarkDelay),
        keyEq && col(rightTs) >= col(leftTs) &&
          col(rightTs) <= col(leftTs) + expr(s"INTERVAL $gap"))

  /**
   * HYBRID retrieval SERVING — the live form of
   * `PipelineQueries.simHybrid` and the composition a production
   * search stack actually deploys: arriving queries carry BOTH
   * representations (`query_id`, `text`, `embedding` — an upstream
   * embedder enriches before retrieval, the embed-gate pattern), and
   * each trigger ranks them lexically AND densely, fusing by RRF.
   *
   * Serving artifacts build ONCE at topology start and the corpus is
   * never re-derived per trigger: the INVERTED INDEX — the per-(doc,
   * term) tf relation with doc lengths, exactly what a lexical engine
   * materializes — plus the vocab-sized df table, the 1-double avgdl,
   * and the norm-carrying embedding relation, all reliable-truncated
   * (a serving topology must survive executor loss; local blocks are
   * the single-JVM fallback). Per trigger the
   * postings relation is read through a BROADCAST restriction to the
   * batch's query terms (map-side, no index shuffle), scored by the
   * SHARED `bm25Contribution` expression (the quantized integers
   * cannot drift from batch), rank-cut, fused by the SHARED `rrfFuse`
   * tail against the dense crossJoin-broadcast ranks — stream == the
   * gated batch query on replayed corpus queries, spec-pinned across
   * multiple triggers.
   */
  def streamingHybrid(queries: DataFrame, docs: DataFrame,
      emb: DataFrame): ForeachTrigger = {
    val idx = buildHybridIndex(docs, emb)
    ForeachTrigger(queries, OutputMode.Append,
      (batch, _) => hybridTrigger(idx, batch))
  }

  /** The build-once serving artifacts of [[streamingHybrid]]. */
  private[graft] case class HybridServeIndex(withNorm: DataFrame,
      tfC: DataFrame, dfC: DataFrame, n: Long, avgdl: Double)

  private[graft] def buildHybridIndex(docs: DataFrame,
      emb: DataFrame): HybridServeIndex = {
    import graft.ops.{SimilarityOps, TextAnalyticsOps}
    val withNorm = graft.ops.DedupOps.reliableTruncate(
      emb.select(col("vec_id"), col("embedding"),
        SimilarityOps.l2Norm(col("embedding")).as("nrm")))
    val n = docs.count()
    require(n > 0, "hybrid_serve: empty docs corpus — avgdl and df " +
      "are undefined with nothing to index")
    val tfC = graft.ops.DedupOps.reliableTruncate(
      docs.select(col("doc_id"),
          TextAnalyticsOps.wsTokenCount(col("text")).as("dl"),
          explode(TextAnalyticsOps.words(lower(col("text")))).as("term"))
        .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf")))
    val dfC = graft.ops.DedupOps.reliableTruncate(
      tfC.groupBy("term").agg(count(lit(1)).as("dfreq")))
    val avgdl = docs
      .select(TextAnalyticsOps.wsTokenCount(col("text")).as("dl"))
      .agg((sum(col("dl")).cast("double") / lit(n.toDouble)).as("a"))
      .head().getDouble(0)
    HybridServeIndex(withNorm, tfC, dfC, n, avgdl)
  }

  /** One trigger's fused retrieval over the built index. Arriving
   *  rows dedupe on query_id first: a repeated query in one
   *  micro-batch (two users typing the same search) would otherwise
   *  double every corpus vector under that qid and corrupt the dense
   *  ranks (safe for content-derived ids — equal id ⇒ equal text;
   *  ingestion with unstable id↔text mappings must dedupe upstream).
   *  Query ids must be DISJOINT from corpus doc/vec ids — the
   *  query-by-example self-exclusion filters equal-id pairs out of
   *  BOTH rankers, so a colliding live id silently loses that corpus
   *  doc (Run's demo derives strictly negative ids; the -(k+1)
   *  disjoint-keyspace convention). */
  private[graft] def hybridTrigger(idx: HybridServeIndex,
      batchRaw: DataFrame): DataFrame = {
    import graft.ops.{SimilarityOps, TextAnalyticsOps}
    import graft.queries.PipelineQueries
    val batch = batchRaw.dropDuplicates("query_id")
    val q = batch.select(col("query_id"), col("embedding").as("q_emb"),
      SimilarityOps.l2Norm(col("embedding")).as("q_nrm"))
    // the SHARED dense scoring + rank-cut definitions (cosineTopK's
    // core), so a tie-break change cannot diverge stream from batch
    val dense = SimilarityOps.cosineRankCut(
        SimilarityOps.scoreExternalQueries(idx.withNorm, q),
        PipelineQueries.HybridCand)
      .select(col("query_id").as("qid"), col("vec_id").as("doc_id"),
        col("rank").as("dense_rank"))
    val qterms = batch.select(col("query_id").as("qid"),
        explode(TextAnalyticsOps.words(lower(col("text")))).as("term"))
      .distinct()
    // no separate distinct-terms restriction join here: tfC is already
    // aggregated (the batch form's restriction prunes BELOW its tf
    // agg), so the qterms join IS the restriction
    val scores = idx.tfC
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(idx.dfC), "term")
      .withColumn("avgdl", lit(idx.avgdl))
      .filter(col("doc_id") =!= col("qid"))
      .select(col("qid"), col("doc_id"),
        PipelineQueries.bm25Contribution(idx.n.toDouble).as("c"))
      .groupBy("qid", "doc_id").agg(sum(col("c")).as("score_nano"))
    PipelineQueries.rrfFuse(dense, PipelineQueries.lexRankCut(scores))
  }

  /**
   * Per-trigger proximity warnings with cumulative state: each
   * micro-batch folds its position reports into a versioned
   * latest-position snapshot (parquet, one version per batch — the
   * freshest-position map of DistFilterBolt, RollingFlightDist.java:216),
   * then runs the batch pairwise join (JoinOps.proximityPairs) on the
   * FULL snapshot. Per-trigger snapshot semantics — coarser interleaving
   * than the reference's per-tuple compare but the same warning set over
   * time (SURVEY.md §7.4 risk 3).
   */
  def proximityWarnings(positions: Dataset[AdsbPosition], thresholdKm: Double,
      steps: Int, stepSec: Int, stateDir: String): ForeachTrigger =
    ForeachTrigger(positions.toDF(), OutputMode.Append, { (batch, _) =>
        val spark = batch.sparkSession
        val updates = batch.select(col("icao"),
          col("posTime").as("pos_time"), col("lat"), col("lng"),
          (col("spd") * graft.ops.GeoOps.KnotToKmPerSec).as("spd_kms"),
          col("trak"))
        // resume from the NEWEST existing version, not batchId-1: after a
        // checkpoint restart batch ids continue but a fresh run must still
        // find the accumulated state. Old versions are pruned (keep 2, so
        // a concurrent reader of the previous version never races the
        // delete). Listing and pruning go through the Hadoop FileSystem
        // resolved from the path's scheme — stateDir may be local on a
        // laptop but HDFS/S3 on a cluster, where java.io.File sees nothing.
        val statePath = new org.apache.hadoop.fs.Path(stateDir)
        val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        def versions(): Seq[Long] =
          if (!fs.exists(statePath)) Seq.empty
          else fs.listStatus(statePath).toSeq.map(_.getPath.getName).collect {
            case n if n.length > 1 && n.head == 'v' && n.tail.forall(_.isDigit) =>
              n.tail.toLong
          }.sorted
        val existing = versions()
        val merged = existing.lastOption match {
          case Some(v) => spark.read.parquet(s"$stateDir/v$v").union(updates)
          case None => updates
        }
        val latest = graft.ops.WindowOps.latestPerKey(merged,
          Seq("icao"), Seq("pos_time"))
        val next = existing.lastOption.getOrElse(-1L) + 1
        latest.write.mode("overwrite").parquet(s"$stateDir/v$next")
        versions().dropRight(2).foreach { v =>
          fs.delete(new org.apache.hadoop.fs.Path(statePath, s"v$v"), true)
        }
        val snapshot = spark.read.parquet(s"$stateDir/v$next")
        JoinOps.proximityPairs(snapshot, thresholdKm, steps, stepSec)
      })

  /**
   * Per-EVENT incremental proximity warnings — DistFilterBolt's actual
   * arrival interleaving (RollingFlightDist.java:213-256), as opposed to
   * [[proximityWarnings]]'s per-trigger snapshot join: each arriving
   * report is compared against the continuously-maintained latest
   * positions of the other aircraft AS OF that arrival, then (if owned
   * by the shard) installed as its aircraft's freshest position when
   * strictly newer (:217).
   *
   * Sharding mirrors the reference's allGrouping + hashCode ownership:
   * every report is fanned out to all `numShards` comparison shards,
   * each shard's keyed state holds only the aircraft it owns
   * (floorMod(icao.hashCode, numShards)), so a pair is compared exactly
   * once per arrival — at the shard owning the OTHER aircraft. State is
   * therefore partitioned, not replicated: at 1000 executors each shard
   * carries 1/numShards of the fleet, and fan-out cost (numShards
   * copies of each small report) is the same network price Storm pays
   * for allGrouping.
   *
   * `strictSharding = true` reproduces the reference verbatim: an OWNED
   * arrival only updates the map and is never compared
   * (:213-219) — which silently means same-shard pairs are never warned
   * and a single-task deployment emits NOTHING. The default (false)
   * closes that blind spot: every arrival is compared against the
   * shard's owned flights (excluding itself) before the state update,
   * making results shard-count-invariant (ProximityFidelitySpec proves
   * both properties).
   *
   * Arrival order within a trigger is made deterministic by sorting on
   * (posTime, icao) — the replay-stable stand-in for Storm's
   * nondeterministic tuple arrival.
   *
   * STATE TTL: the reference retains every aircraft's latest position
   * forever (RollingFlightDist.java:216-218) — unbounded at fleet
   * scale, where decommissioned/out-of-range aircraft accumulate. Here
   * an aircraft silent for more than `silenceTtlSec` (default: the
   * speculative horizon `steps * stepSec` — a fix older than the
   * horizon could only be compared by extrapolating it past the model's
   * own speculative window) is (a) INVISIBLE to comparisons — arrival
   * `r` sees stored `f` only when `f.posTime >= r.posTime - ttl` — and
   * (b) physically EVICTED from the keyed state once the shard's
   * event-time high-water mark `C` passes its fix by the TTL. For
   * IN-ORDER data the two rules coincide and results are independent
   * of trigger chunking: anything evicted was already invisible to
   * every later arrival. For LATE data they do not: a report `r` below
   * the high-water mark by ANY amount may find entries with posTime in
   * `[r.posTime - ttl, C - ttl)` already deleted if eviction ran in an
   * earlier trigger, though rule (a) alone would have shown them — so
   * out-of-order output CAN depend on how triggers chunked the stream
   * (the standard allowed-lateness contract, not a pure pairwise
   * rule). Pass
   * `silenceTtlSec = Long.MaxValue` for the reference's retain-forever
   * behavior.
   */
  def proximityWarningsPerEvent(positions: Dataset[AdsbPosition],
      thresholdKm: Double, steps: Int, stepSec: Int, numShards: Int = 1,
      strictSharding: Boolean = false,
      silenceTtlSec: Long = -1L): Dataset[ProximityWarning] = {
    val spark0 = positions.sparkSession
    import spark0.implicits._
    val ttlMs = resolveTtlMs(silenceTtlSec, steps, stepSec)
    val sharded = positions.flatMap { p =>
      val owner = math.floorMod(p.icao.hashCode, numShards)
      (0 until numShards).iterator.map { s =>
        ShardedReport(s, s == owner, p.icao, p.posTime, p.lat, p.lng,
          p.spd * graft.ops.GeoOps.KnotToKmPerSec, p.trak)
      }
    }
    sharded.groupByKey(_.shard)
      .flatMapGroupsWithState[Map[String, FlightState], ProximityWarning](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (_, reports, state) =>
        val (owned, out) = processShardBatch(
          state.getOption.getOrElse(Map.empty[String, FlightState]),
          reports.toVector, thresholdKm, steps, stepSec, strictSharding, ttlMs)
        state.update(owned)
        out.iterator
      }
  }

  /** `silenceTtlSec < 0` selects the default TTL — the speculative
   *  horizon; saturating multiplication guards MaxValue-style opt-outs
   *  from overflowing to a negative TTL. */
  private[streaming] def resolveTtlMs(silenceTtlSec: Long, steps: Int,
      stepSec: Int): Long = {
    val sec = if (silenceTtlSec < 0) steps.toLong * stepSec else silenceTtlSec
    if (sec > Long.MaxValue / 1000L) Long.MaxValue else sec * 1000L
  }

  /** One shard's batch transition — DistFilterBolt's arrival loop plus
   *  the TTL contract documented on [[proximityWarningsPerEvent]] —
   *  factored pure so the eviction behavior is unit-testable without a
   *  state store. Returns (state after physical eviction, warnings). */
  private[streaming] def processShardBatch(owned0: Map[String, FlightState],
      reports: Seq[ShardedReport], thresholdKm: Double, steps: Int,
      stepSec: Int, strictSharding: Boolean,
      ttlMs: Long): (Map[String, FlightState], Vector[ProximityWarning]) = {
    var owned = owned0
    val out = Vector.newBuilder[ProximityWarning]
    reports.sortBy(r => (r.posTime, r.icao)).foreach { r =>
      if (!strictSharding || !r.owned)
        owned.foreach { case (icao2, f) =>
          // difference form: r - MaxValue would wrap; r - f never can
          // (both are epoch millis); a NEWER stored fix is negative-
          // silent and always visible
          if (r.posTime - f.posTime <= ttlMs)
            out ++= speculativeWarnings(r, icao2, f, thresholdKm, steps, stepSec)
        }
      if (r.owned && owned.get(r.icao).forall(_.posTime < r.posTime))
        owned = owned.updated(r.icao,
          FlightState(r.posTime, r.lat, r.lng, r.spdKms, r.trak))
    }
    // physical eviction at the shard's event-time high-water mark: the
    // freshest owned entry always survives its own cursor, so the
    // cursor is monotone across batches and eviction never resurrects
    val cursor = (reports.iterator.map(_.posTime) ++
      owned.valuesIterator.map(_.posTime)).foldLeft(Long.MinValue)(math.max)
    // difference form (cursor >= f.posTime for every owned f by
    // construction, so this never overflows, even at ttl = MaxValue)
    (owned.filter { case (_, f) => cursor - f.posTime <= ttlMs }, out.result())
  }

  /** One arrival vs one stored flight: the speculative step loop —
   *  same arithmetic as JoinOps.proximityPairs (one fused GeoMath call
   *  per step), so every formulation is bit-comparable
   *  (RollingFlightDist.java:230-258). */
  private[streaming] def speculativeWarnings(r: ShardedReport, icao2: String,
      f: FlightState, thresholdKm: Double, steps: Int,
      stepSec: Int): Seq[ProximityWarning] = {
    if (icao2 == r.icao) return Nil
    val out = Vector.newBuilder[ProximityWarning]
    var currTime = math.max(r.posTime, f.posTime)
    var i = 0
    while (i < steps) {
      val dist = graft.functions.GeoMath.projectedDistKm(
        r.lat, r.lng, r.trak, r.spdKms * (currTime - r.posTime) / 1000,
        f.lat, f.lng, f.trak, f.spdKms * (currTime - f.posTime) / 1000)
      if (dist <= thresholdKm) {
        val distR = BigDecimal(dist)
          .setScale(1, BigDecimal.RoundingMode.HALF_UP).toDouble
        val (i1, i2) = if (r.icao < icao2) (r.icao, icao2) else (icao2, r.icao)
        out += ProximityWarning(i1, i2, i, currTime, distR)
      }
      currTime += 1000L * stepSec
      i += 1
    }
    out.result()
  }

  /** A foreachBatch topology: `input` streamed in `mode`, each
   *  trigger's batch turned into that trigger's result by `body`. The
   *  runner owns the trigger, the checkpoint and the sink. */
  final case class ForeachTrigger(input: DataFrame, mode: OutputMode,
      body: (DataFrame, Long) => DataFrame) {
    def start(checkpoint: String, trigger: Trigger = Trigger.ProcessingTime(0L))(
        sink: (DataFrame, Long) => Unit): StreamingQuery =
      input.writeStream
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, id: Long) => sink(body(batch, id), id) }
        .start()
  }

  /** Start a query into the in-memory sink (tests / console parity with
   *  the reference's log-based observability). */
  def toMemory(df: DataFrame, name: String, mode: OutputMode,
      checkpointDir: String): StreamingQuery =
    df.writeStream.format("memory").queryName(name)
      .outputMode(mode).option("checkpointLocation", checkpointDir).start()
}

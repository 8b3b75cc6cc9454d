package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamOps

/** Smoke test for the Run CLI's --ttl wiring: drives the EXACT
  * topology compositions Run serves (`Run.wordCountTopology` /
  * `Topologies.pageViewCountTopology`) from a MemoryStream and shows the
  * TTL form really evicts — the 100 TB-shaped bounded-state variant
  * is drivable end-to-end, not spec-only (round-10 punch item). */
class RunTopologySpec extends SparkSpec {
  import spark.implicits._

  private def ckpt() = tempDir("graft-run-spec")
  private def at(s: String) = Timestamp.valueOf(s)

  test("Run wordcount --ttl evicts a silent word's count; " +
      "no --ttl keeps the reference's retain-forever semantics") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val lines = in.toDF().toDF("ts", "value")
    // 10-minute event-time TTL, exactly as `--ttl 600` wires it
    val q = StreamOps.toMemory(
      Run.wordCountTopology(lines, Some(600 * 1000L)),
      "run_wc_ttl", OutputMode.Update, ckpt())
    try {
      in.addData((at("2024-01-01 10:00:00"), "hip hip hooray"))
      q.processAllAvailable() // hip=2, hooray=1; watermark -> 10:00
      in.addData((at("2024-01-01 11:00:00"), "hooray"))
      q.processAllAvailable() // watermark 11:00 > hip's 10:10 timeout
      in.addData((at("2024-01-01 12:00:00"), "tick"))
      q.processAllAvailable() // hip physically evicted
      in.addData((at("2024-01-01 12:01:00"), "hip"))
      q.processAllAvailable() // hip restarts from zero
      val out = spark.table("run_wc_ttl").as[(String, Long)].collect()
      val hip = out.filter(_._1 == "hip").map(_._2).toSet
      assert(hip == Set(2L, 1L), s"hip not evicted+restarted: $hip")
      assert(out.filter(_._1 == "hooray").map(_._2).max == 2L,
        "live keys keep counting across the same span")
    } finally q.stop()

    // default form (no --ttl): same stream shape, count never resets
    val in2 = MemoryStream[(Timestamp, String)]
    val q2 = StreamOps.toMemory(
      Run.wordCountTopology(in2.toDF().toDF("ts", "value"), None),
      "run_wc_plain", OutputMode.Update, ckpt())
    try {
      in2.addData((at("2024-01-01 10:00:00"), "hip hip"))
      q2.processAllAvailable()
      in2.addData((at("2024-01-01 13:00:00"), "hip"))
      q2.processAllAvailable()
      val hip = spark.table("run_wc_plain").as[(String, Long)].collect()
        .filter(_._1 == "hip").map(_._2).max
      assert(hip == 3L, "retain-forever form must never restart a count")
    } finally q2.stop()
  }

  test("Run curate serves the live curation pipeline: quality filter " +
      "drops junk, watermarked dedup drops repeats, doc_id is the " +
      "content hash") {
    implicit val sqlCtx = spark.sqlContext
    val keep = "the cat and the dog sat on the mat and the dog ran to " +
      "the house and the cat slept in the sun all day long once more"
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.toMemory(
      Topologies.curateTopology(in.toDF().toDF("ts", "value"),
        minScore = 0.1, minWords = 5L, watermarkDelay = "1 hour"),
      "run_curate", OutputMode.Append, ckpt())
    try {
      in.addData(
        (at("2024-01-01 10:00:00"), keep),
        (at("2024-01-01 10:01:00"), "short junk"))
      q.processAllAvailable()
      in.addData((at("2024-01-01 10:30:00"), keep)) // dup within watermark
      q.processAllAvailable()
      val rows = spark.table("run_curate").collect()
      assert(rows.length == 1, s"expected 1 curated doc, got ${rows.length}")
      assert(rows.head.getAs[Long]("doc_id") != 0L)
    } finally q.stop()
  }

  test("Run tokenize streams the four-family token telemetry: stream " +
      "rows equal the batch tokenizeProjection on the same text, and " +
      "an [UNK]-only word still counts 1 under WordPiece") {
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.PipelineQueries
    val texts = Seq(
      "the quick batch join window",
      "zebra aft column", // zebra/aft are WordPiece [UNK] words
      "agg aggi batch batch batch")
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.toMemory(
      PipelineQueries.tokenizeProjection(
        in.toDF().toDF("ts", "value")
          .select(org.apache.spark.sql.functions.col("ts"),
            org.apache.spark.sql.functions.col("value").as("text"))),
      "run_tokenize", OutputMode.Append, ckpt())
    try {
      in.addData(texts.map(t => (at("2024-01-01 10:00:00"), t)): _*)
      q.processAllAvailable()
      val got = spark.table("run_tokenize")
        .select("ws_tokens", "bpe_tokens", "unigram_tokens",
          "wordpiece_tokens")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sorted.toSeq
      val want = PipelineQueries.tokenizeProjection(
        texts.toDF("text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sorted.toSeq
      assert(got == want, s"stream != batch: $got vs $want")
      // the [UNK] doc: 3 ws words, each an [UNK] or real segmentation
      val unkRow = PipelineQueries.tokenizeProjection(
        Seq("zebra aft column").toDF("text")).collect()(0)
      assert(unkRow.getAs[Long]("ws_tokens") == 3L)
      // zebra -> [UNK] (1), aft -> [UNK] (1), column -> column (1)
      assert(unkRow.getAs[Long]("wordpiece_tokens") == 3L)
    } finally q.stop()
  }

  test("Run decontaminate gates lines against the benchmark parquet: " +
      "an overlapping line is flagged with its hit count, clean lines pass") {
    implicit val sqlCtx = spark.sqlContext
    val benchPath = "/root/testdata/sf0.001/documents.parquet"
    // a line sharing exactly one 4-gram with the holdout: the first 4
    // words of a benchmark doc, embedded in otherwise-novel text
    val benchDoc = spark.read.parquet(benchPath)
      .filter(org.apache.spark.sql.functions.col("doc_id")
        % graft.queries.PipelineQueries.DecontHoldout === 0)
      .select("text").head().getString(0)
    val gram = benchDoc.split("\\s+").filter(_.nonEmpty)
      .take(graft.queries.PipelineQueries.DecontN).mkString(" ")
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.toMemory(
      Topologies.decontaminateTopology(spark, in.toDF().toDF("ts", "value"), benchPath),
      "run_decont", OutputMode.Append, ckpt())
    try {
      in.addData(
        (at("2024-01-01 10:00:00"), s"zz1 zz2 $gram zz3 zz4"),
        (at("2024-01-01 10:01:00"), "zz1 zz2 zz3 zz4 zz5 zz6 zz7"))
      q.processAllAvailable()
      val rows = spark.table("run_decont").collect()
      assert(rows.length == 1, s"expected only the overlapping line: ${rows.toSeq}")
      assert(rows.head.getAs[Long]("n_hits") == 1L)
    } finally q.stop()
  }

  test("Run bloom_gate rejects the overlapping line and admits clean " +
      "lines (decontaminate's polarity inverted: admission, not audit)") {
    implicit val sqlCtx = spark.sqlContext
    val benchPath = "/root/testdata/sf0.001/documents.parquet"
    val benchDoc = spark.read.parquet(benchPath)
      .filter(org.apache.spark.sql.functions.col("doc_id")
        % graft.queries.PipelineQueries.DecontHoldout === 0)
      .select("text").head().getString(0)
    val gram = benchDoc.split("\\s+").filter(_.nonEmpty)
      .take(graft.queries.PipelineQueries.DecontN).mkString(" ")
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.toMemory(
      Topologies.bloomGateTopology(spark, in.toDF().toDF("ts", "value"), benchPath),
      "run_bloom_gate", OutputMode.Append, ckpt())
    try {
      in.addData(
        (at("2024-01-01 10:00:00"), s"zz1 zz2 $gram zz3 zz4"),
        (at("2024-01-01 10:01:00"), "zz1 zz2 zz3 zz4 zz5 zz6 zz7"),
        (at("2024-01-01 10:02:00"), "zz")) // too short to gram: admit
      q.processAllAvailable()
      val rows = spark.table("run_bloom_gate").collect()
      assert(rows.length == 2,
        s"expected the clean + too-short lines only: ${rows.toSeq}")
      assert(rows.map(_.getAs[String]("text")).toSet ==
        Set("zz1 zz2 zz3 zz4 zz5 zz6 zz7", "zz"))
      assert(rows.map(_.getAs[Long]("n_grams")).toSet == Set(4L, 0L))
    } finally q.stop()
  }

  test("Run anomaly_gate flags a replay of the events table exactly " +
      "as the batch query, z for z") {
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val history = spark.read.parquet(s"$sfDir/events.parquet")
    val expected = graft.queries.AnalyticsQueries.eventAnomalies(spark, sfDir)
      .collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("z_r")).toMap
    assert(expected.nonEmpty, "no batch anomalies at sf0.001")
    val in = MemoryStream[(Long, String, Double)]
    val q = StreamOps.toMemory(
      StreamOps.anomalyGateStream(
        in.toDF().toDF("event_id", "event_type", "value"), history),
      "run_anomaly", OutputMode.Append, ckpt())
    try {
      in.addData(history.select("event_id", "event_type", "value").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .toIndexedSeq: _*)
      q.processAllAvailable()
      val live = spark.table("run_anomaly").collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("z_r")).toMap
      assert(live == expected, "live flags must equal the batch anomalies")
    } finally q.stop()
  }

  test("Run funnel state machine replays the events table " +
      "transition-for-transition equal to the batch stage frames, " +
      "with state surviving the trigger cut") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    val sfDir = "/root/testdata/sf0.001"
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    def micros(t: java.time.LocalDateTime): Long = {
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    val expected = graft.queries.AnalyticsQueries.funnelStageFrames(ev)
      .zipWithIndex.map { case ((_, f), i) =>
        (i + 1) -> f.collect().map(r => (r.getLong(0),
          micros(r.getAs[java.time.LocalDateTime]("t0")))).toSet
      }.toMap
    assert(expected(2).nonEmpty && expected(2).size < expected(1).size,
      "fixture funnel degenerate")
    val in = MemoryStream[(Long, String, Long)]
    val q = StreamOps.toMemory(
      StreamOps.funnelStream(
        in.toDF().toDF("user_id", "event_type", "us")
          .select(col("user_id"), col("event_type"),
            timestamp_micros(col("us")).as("ts"))),
      "run_funnel", OutputMode.Append, ckpt())
    try {
      val rows = ev.select("user_id", "event_type", "ts").collect()
        .map(r => (r.getLong(0), r.getString(1),
          micros(r.getAs[java.time.LocalDateTime]("ts"))))
        .sortBy(_._3)
      // two triggers: advances must chain across the state cut
      val (first, second) = rows.splitAt(rows.length / 2)
      in.addData(first.toIndexedSeq: _*)
      q.processAllAvailable()
      in.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()
      val live = spark.table("run_funnel").collect()
        .groupBy(_.getAs[Int]("stage")).view.mapValues(_.map { r =>
          (r.getAs[Long]("user_id"),
            micros(r.getAs[java.time.LocalDateTime]("ts")))
        }.toSet).toMap
      assert(live == expected,
        "live advances must equal the batch qualifying frames")
    } finally q.stop()
  }

  test("Run ppl_gate labels a corpus replay row-for-row as the batch " +
      "perplexity buckets (known vocabulary: live == batch exactly)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val sfDir = "/root/testdata/sf0.001"
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val expected = graft.queries.PipelineQueries.textPplBuckets(spark, sfDir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("mean_nll_micro"), r.getAs[String]("ppl_bucket")))).toMap
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.toMemory(
      StreamOps.pplBucketStream(
        in.toDF().toDF("doc_id", "text"), corpus),
      "run_ppl", OutputMode.Append, ckpt())
    try {
      val docs = corpus.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      in.addData(docs.toIndexedSeq: _*)
      q.processAllAvailable()
      val live = spark.table("run_ppl")
        .select("doc_id", "mean_nll_micro", "ppl_bucket").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
      assert(live.keySet == expected.keySet)
      assert(live == expected, "live labels must equal the batch buckets")
      // and an OOV-only + an empty line both take the tail path
      in.addData((900001L, "zzzgibberish qqqqwords"), (900002L, ""))
      q.processAllAvailable()
      val extra = spark.table("run_ppl")
        .filter(col("doc_id") >= 900000L)
        .select("doc_id", "ppl_bucket").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(extra(900002L) == "tail", "empty line must label tail, not vanish")
      assert(extra.contains(900001L), "OOV line must label, not vanish")
    } finally q.stop()
  }

  test("Run classify_gate admits exactly the lines the batch classifier " +
      "keeps, with the batch projection's exact scores") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val texts = Seq("alpha beta gamma delta", "omega psi chi phi upsilon",
      "one two three", "lorem ipsum dolor sit amet")
    // batch truth from the SAME shared projection over a local frame
    import spark.implicits._
    val batch = graft.queries.PipelineQueries.classifyProjection(
      texts.toDF("text")).collect()
      .map(r => (r.getAs[Long]("n_words"), r.getAs[Long]("score_sum"),
        r.getAs[Boolean]("keep")))
    assert(batch.exists(_._3) && batch.exists(!_._3),
      "fixture must split both ways — re-pick texts")
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.toMemory(
      graft.queries.PipelineQueries.classifyProjection(
        in.toDF().toDF("ts", "value")
          .select(col("ts"), col("value").as("text")))
        .filter(col("keep")),
      "run_classify", OutputMode.Append, ckpt())
    try {
      in.addData(texts.map(t => (at("2024-01-01 10:00:00"), t)): _*)
      q.processAllAvailable()
      val live = spark.table("run_classify")
        .select("n_words", "score_sum", "keep").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      assert(live.sorted.toSeq == batch.filter(_._3).sorted.toSeq,
        "live admission must equal the batch keep slice")
    } finally q.stop()
  }

  test("Run gopher_gate admits exactly the docs the batch rule battery " +
      "keeps, flag-for-flag, on a corpus replay") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val batch = graft.queries.PipelineQueries.qualityGopher(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> (r.getBoolean(5), r.getBoolean(6),
        r.getBoolean(7), r.getBoolean(8), r.getBoolean(9))).toMap
    assert(batch.values.exists(_._5) && batch.values.exists(!_._5),
      "corpus must split both ways")
    val texts = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.toMemory(
      graft.queries.PipelineQueries.gopherProjection(
        in.toDF().toDF("doc_id", "text")).filter(col("keep")),
      "run_gopher", OutputMode.Append, ckpt())
    try {
      in.addData(texts: _*)
      q.processAllAvailable()
      val live = spark.table("run_gopher").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(live == batch.filter(_._2._5).keySet,
        "live admission must equal the batch keep slice")
    } finally q.stop()
  }

  test("Run winnow_fp emits the batch winnowing stats row-for-row on a " +
      "corpus replay (deque kernel live == relational batch)") {
    implicit val sqlCtx = spark.sqlContext
    val batch = graft.queries.PipelineQueries.textWinnow(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val texts = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.toMemory(
      graft.queries.PipelineQueries.winnowProjection(
        in.toDF().toDF("doc_id", "text")),
      "run_winnow", OutputMode.Append, ckpt())
    try {
      in.addData(texts: _*)
      q.processAllAvailable()
      val live = spark.table("run_winnow")
        .select("doc_id", "n_grams", "n_fp", "fp_sum").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(live == batch, "live fingerprint stats must equal batch")
    } finally q.stop()
  }

  test("Run attrib_join emits exactly the batch interval-join pairs on " +
      "an events replay: stream-stream self-join == batch theta join") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, expr}
    // deterministic two-sided fixture: views and clicks per user with
    // in-window, out-of-window, and cross-user cases
    val rows = Seq(
      (1L, 0L, at("2024-01-01 10:00:00")), // view u1
      (1L, 1L, at("2024-01-01 10:00:30")), // click u1 in window
      (1L, 2L, at("2024-01-01 10:02:00")), // click u1 outside 60s
      (2L, 0L, at("2024-01-01 10:00:00")), // view u2
      (3L, 1L, at("2024-01-01 10:00:10")), // click u3: no view
      (2L, 1L, at("2024-01-01 10:00:59"))) // click u2 in window
    val batchEv = rows.toDF("user_id", "k", "ts")
    val bViews = batchEv.filter(col("k") === 0)
      .select(col("user_id"), col("ts").as("view_ts"))
    val bClicks = batchEv.filter(col("k") =!= 0)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val expected = bViews.join(bClicks,
      col("user_id") === col("c_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL 60 seconds"))
      .select("user_id", "view_ts", "click_ts")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    assert(expected.size == 2, s"fixture must join selectively: $expected")
    val in = MemoryStream[(Long, Long, Timestamp)]
    val ev = in.toDF().toDF("user_id", "k", "ts")
    val live = StreamOps.streamingRangeJoin(
      ev.filter(col("k") === 0).select(col("user_id"), col("ts").as("view_ts")),
      ev.filter(col("k") =!= 0)
        .select(col("user_id").as("c_user"), col("ts").as("click_ts")),
      col("user_id") === col("c_user"), "view_ts", "click_ts",
      // 10-minute watermark: the second trigger's rows sit behind the
      // first trigger's max event time — a 0s watermark would rightly
      // drop them as late, which is watermark semantics, not the
      // batch-equality this pin is after
      "60 seconds", "10 minutes")
      .select(col("user_id"), col("view_ts"), col("click_ts"))
    val q = StreamOps.toMemory(live, "run_attrib", OutputMode.Append, ckpt())
    try {
      in.addData(rows.take(3): _*)
      q.processAllAvailable()
      in.addData(rows.drop(3): _*) // later trigger joins buffered views
      q.processAllAvailable()
      val got = spark.table("run_attrib").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
      assert(got == expected, s"live $got != batch $expected")
    } finally q.stop()
  }

  test("Run text_chunks cuts live lines into 50-token chunks with the " +
      "batch projection's exact hashes") {
    implicit val sqlCtx = spark.sqlContext
    val k = graft.queries.PipelineQueries.ChunkTokens
    val text = (1 to (k + 3)).map(i => s"w$i").mkString(" ") // 2 chunks
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.toMemory(
      graft.queries.PipelineQueries.chunkProjection(
        in.toDF().toDF("ts", "value")
          .select(org.apache.spark.sql.functions.col("ts"),
            org.apache.spark.sql.functions.col("value").as("text"))),
      "run_chunks", OutputMode.Append, ckpt())
    try {
      in.addData((at("2024-01-01 10:00:00"), text))
      q.processAllAvailable()
      val rows = spark.table("run_chunks")
        .select("chunk_id", "n_tokens", "chunk_hash").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
      assert(rows.map(r => (r._1, r._2)).toSeq == Seq((0L, k.toLong), (1L, 3L)))
      val expectedHash = java.security.MessageDigest.getInstance("MD5")
        .digest((1 to k).map(i => s"w$i").mkString(" ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(rows.head._3 == expectedHash)
    } finally q.stop()
  }

  test("Run lm_score scores live lines with the batch query's exact " +
      "model; OOV words cost the singleton ceiling; empty lines emit 0") {
    implicit val sqlCtx = spark.sqlContext
    val corpusPath = "/root/testdata/sf0.001/documents.parquet"
    val corpus = spark.read.parquet(corpusPath)
    // batch expectation for one corpus doc, from the GATED query itself
    val doc = corpus.select("doc_id", "text")
      .head()
    val batch = graft.queries.PipelineQueries
      .textUnigramNll(spark, "/root/testdata/sf0.001")
      .filter(org.apache.spark.sql.functions.col("doc_id") ===
        doc.getLong(0))
      .head()
    // the OOV ceiling the stream must charge: floor(ln(total)*1e6)
    val total = graft.queries.PipelineQueries.unigramModel(corpus)
      .agg(org.apache.spark.sql.functions.sum("freq")).head().getLong(0)
    val oov = math.floor(math.log(total.toDouble) *
      graft.queries.PipelineQueries.NllMicro.toDouble).toLong
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.toMemory(
      Topologies.lmScoreTopology(spark, in.toDF().toDF("ts", "value"), corpusPath),
      "run_lm", OutputMode.Append, ckpt())
    try {
      in.addData(
        (at("2024-01-01 10:00:00"), doc.getString(1)),
        (at("2024-01-01 10:01:00"), "zzqqx zzqqy"),
        (at("2024-01-01 10:02:00"), ""))
      q.processAllAvailable()
      val rows = spark.table("run_lm")
        .select("text", "n_words", "nll_micro_sum").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(rows.contains((doc.getString(1),
        batch.getAs[Long]("n_words"), batch.getAs[Long]("nll_micro_sum"))),
        s"in-vocab doc must score exactly as the batch query: $rows")
      assert(rows.contains(("zzqqx zzqqy", 2L, 2L * oov)),
        s"OOV words must each cost the singleton ceiling $oov: $rows")
      assert(rows.contains(("", 0L, 0L)),
        s"empty line must emit (0,0), not vanish: $rows")
    } finally q.stop()
  }

  test("Run nb_langid labels live lines with the batch text_langid_nb " +
      "model exactly; novel bigrams are transparent and a sub-2-char " +
      "line labels as the prior argmax instead of vanishing") {
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val corpusPath = s"$sfDir/documents.parquet"
    // batch expectation from the GATED query itself over the SAME
    // corpus the stream trains on
    val batch = graft.queries.PipelineQueries.textLangIdNb(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val docs = spark.read.parquet(corpusPath)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.toMemory(
      Topologies.nbLangIdTopology(spark, in.toDF().toDF("ts", "value"), corpusPath),
      "run_nblid", OutputMode.Append, ckpt())
    try {
      in.addData(docs.toIndexedSeq.map(d =>
        (at("2024-01-01 10:00:00"), d._2)))
      // a line of PURELY novel bigrams scores prior-only on every
      // lang, and a 1-char line has no bigrams — both must label as
      // the prior argmax, not vanish or die
      in.addData(
        (at("2024-01-01 10:01:00"), "ßQßQßQ"),
        (at("2024-01-01 10:02:00"), "x"))
      q.processAllAvailable()
      val got = spark.table("run_nblid")
        .select("text", "lang_pred").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val textPred = docs.map { case (id, t) => t -> batch(id) }.toMap
      docs.foreach { case (id, t) =>
        assert(got(t) == batch(id),
          s"stream label for doc $id must equal the batch query: " +
            s"${got(t)} vs ${batch(id)} (text-keyed ${textPred(t)})")
      }
      // the prior argmax, independently: most frequent lang wins, ties
      // to the smallest — recomputed from the raw corpus
      val priorArgmax = spark.read.parquet(corpusPath)
        .groupBy("lang").count().collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .minBy { case (l, n) => (-n, l) }._1
      assert(got("ßQßQßQ") == priorArgmax,
        s"novel-bigram line must label as the prior argmax: $got")
      assert(got("x") == priorArgmax,
        s"bigram-less line must label as the prior argmax, not vanish")
    } finally q.stop()
  }

  test("Run span_flag flags live lines with the batch dedup_spans " +
      "semantics; novel and short lines emit zero-dup rows") {
    implicit val sqlCtx = spark.sqlContext
    val corpusPath = "/root/testdata/sf0.001/documents.parquet"
    // batch expectation from the GATED query itself: stream every
    // corpus doc through the gate built from the same corpus — the
    // per-doc stats must match exactly (the dup set is corpus-wide, so
    // within-corpus docs see identical membership)
    val batch = graft.queries.PipelineQueries
      .dedupSpans(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val docs = spark.read.parquet(corpusPath)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.toMemory(
      Topologies.spanFlagTopology(spark, in.toDF().toDF("ts", "value"), corpusPath),
      "run_span", OutputMode.Append, ckpt())
    try {
      val t0 = at("2024-01-01 10:00:00")
      in.addData(docs.map { case (_, t) => (t0, t) }.toIndexedSeq)
      in.addData((t0, "zzq wwq vvq uuq rrq"), (t0, "one two"))
      q.processAllAvailable()
      val rows = spark.table("run_span")
        .select("text", "n_grams", "n_dup", "dup_tokens").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      val byText = docs.map { case (id, t) => t -> batch(id) }.toMap
      rows.filter(r => byText.contains(r._1)).foreach { case (t, got) =>
        assert(got == byText(t), s"live != batch for '$t'") }
      val m = rows.toMap
      assert(m("zzq wwq vvq uuq rrq") == ((2L, 0L, 0L)),
        "novel text must flag nothing")
      assert(m("one two") == ((0L, 0L, 0L)),
        "sub-n text must emit zeros, not vanish")
      // the corpus genuinely exercises the gate (non-vacuous fixture)
      assert(rows.exists(_._2._2 > 0), "no dup spans flagged at all")
    } finally q.stop()
  }

  test("Run lm_score --order 2 scores live lines with the batch bigram " +
      "model; unseen bigrams pay the model's own smoothed fallbacks") {
    import org.apache.spark.sql.functions.{col, length}
    implicit val sqlCtx = spark.sqlContext
    val corpusPath = "/root/testdata/sf0.001/documents.parquet"
    // the add-one model, recomputed independently (the batch spec's
    // reference): bg counts, context counts, V = |contexts|
    val texts = spark.read.parquet(corpusPath)
      .select("text").collect().map(_.getString(0))
    val allPairs = texts.flatMap { t =>
      val ws = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      ws.zip(ws.drop(1))
    }
    val bg = allPairs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val ca = bg.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val v = ca.size.toLong
    def q(num: Long, den: Long): Long =
      math.floor(-math.log(num.toDouble / den.toDouble) *
        graft.queries.PipelineQueries.NllMicro).toLong
    // one corpus doc: every bigram in-model -> batch score exactly
    val doc = spark.read.parquet(corpusPath)
      .filter(length(col("text")) > 0).select("doc_id", "text").head()
    val batch = graft.queries.PipelineQueries
      .textBigramNll(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") === doc.getLong(0)).head()
    val aKnown = ca.keys.min // a context word that exists in the model
    val in = MemoryStream[(Timestamp, String)]
    val q2 = StreamOps.toMemory(
      Topologies.lmScoreTopology(spark, in.toDF().toDF("ts", "value"),
        corpusPath, order = 2),
      "run_lm2", OutputMode.Append, ckpt())
    try {
      in.addData(
        (at("2024-01-01 10:00:00"), doc.getString(1)),
        (at("2024-01-01 10:01:00"), s"$aKnown zzqqx"), // known ctx, new b
        (at("2024-01-01 10:02:00"), "zzqqx zzqqy"),    // unknown ctx
        (at("2024-01-01 10:03:00"), "zzqqx"))          // no bigram
      q2.processAllAvailable()
      val rows = spark.table("run_lm2")
        .select("text", "n_bigrams", "nll_micro_sum").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(rows.contains((doc.getString(1),
        batch.getAs[Long]("n_bigrams"), batch.getAs[Long]("nll_micro_sum"))),
        s"in-corpus doc must score exactly as the batch query: $rows")
      assert(rows.contains((s"$aKnown zzqqx", 1L, q(1, ca(aKnown) + v))),
        s"unseen bigram under known context must cost -ln(1/(c_a+V)): $rows")
      assert(rows.contains(("zzqqx zzqqy", 1L, q(1, v))),
        s"unknown context must cost -ln(1/V): $rows")
      assert(rows.contains(("zzqqx", 0L, 0L)),
        s"a 1-word line has no bigram and must emit (0,0): $rows")
    } finally q2.stop()
  }

  test("Run lm_score --order 3 --smoothing kn scores an in-corpus line " +
      "exactly as the batch textTrigramKn; unsupported combos refuse " +
      "loudly (backoff cases live in StreamOpsSpec)") {
    import org.apache.spark.sql.functions.{col, length}
    implicit val sqlCtx = spark.sqlContext
    val corpusPath = "/root/testdata/sf0.001/documents.parquet"
    val doc = spark.read.parquet(corpusPath)
      .filter(length(col("text")) > 0).select("doc_id", "text").head()
    val batch = graft.queries.PipelineQueries
      .textTrigramKn(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") === doc.getLong(0)).head()
    val in = MemoryStream[(Timestamp, String)]
    val q3 = StreamOps.toMemory(
      Topologies.lmScoreTopology(spark, in.toDF().toDF("ts", "value"),
        corpusPath, order = 3, smoothing = "kn"),
      "run_lm3", OutputMode.Append, ckpt())
    try {
      in.addData((at("2024-01-01 10:00:00"), doc.getString(1)))
      q3.processAllAvailable()
      val rows = spark.table("run_lm3")
        .select("text", "n_trigrams", "kn3_nll_micro_sum").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(rows.contains((doc.getString(1),
        batch.getAs[Long]("n_trigrams"),
        batch.getAs[Long]("kn3_nll_micro_sum"))),
        s"in-corpus doc must score exactly as the batch query: $rows")
    } finally q3.stop()
    val e = intercept[IllegalArgumentException] {
      Topologies.lmScoreTopology(spark, in.toDF().toDF("ts", "value"),
        corpusPath, order = 3, smoothing = "addone")
    }
    assert(e.getMessage.contains("--order 3"), e.getMessage)
  }

  test("Run phash_gate: every demo-source line decodes to a REAL " +
      "corpus PNG and near-dups against the corpus at hamming 0 " +
      "(the demo source replays corpus blobs); decisions and " +
      "observability columns flow through") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.toMemory(
      Topologies.phashGateTopology(spark, in.toDF().toDF("ts", "value"),
        graft.tools.PngFixture.Path),
      "run_phash_gate", OutputMode.Append, ckpt())
    try {
      in.addData(
        (at("2024-01-01 10:00:00"), "alpha"),
        (at("2024-01-01 10:00:01"), "bravo"),
        (at("2024-01-01 10:00:02"), "charlie"))
      q.processAllAvailable()
      val rows = spark.table("run_phash_gate")
        .select("decision", "hamming").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(rows.length == 3)
      // demo blobs ARE corpus members: exact match at hamming 0
      assert(rows.forall(_ == (("neardup", 0L))),
        s"corpus replays must self-match at 0: ${rows.toSeq}")
    } finally q.stop()
  }

  test("Run video_gate: every demo-source line replays a REAL corpus " +
      "clip and near-dups against the corpus at max_hamming 0; " +
      "decisions and observability columns flow through") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.toMemory(
      Topologies.videoGateTopology(spark, in.toDF().toDF("ts", "value"),
        graft.tools.VideoDupFixture.Path),
      "run_video_gate", OutputMode.Append, ckpt())
    try {
      in.addData(
        (at("2024-01-01 10:00:00"), "alpha"),
        (at("2024-01-01 10:00:01"), "bravo"),
        (at("2024-01-01 10:00:02"), "charlie"))
      q.processAllAvailable()
      val rows = spark.table("run_video_gate")
        .select("decision", "max_hamming").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(rows.length == 3)
      assert(rows.forall(_ == (("neardup", 0L))),
        s"corpus replays must self-match at 0: ${rows.toSeq}")
    } finally q.stop()
  }

  test("Run audio_gate: every demo-source line replays a REAL corpus " +
      "WAV clip and near-dups against the corpus at hamming 0; " +
      "decisions and observability columns flow through") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.toMemory(
      Topologies.audioGateTopology(spark, in.toDF().toDF("ts", "value"),
        graft.tools.AudioDupFixture.Path),
      "run_audio_gate", OutputMode.Append, ckpt())
    try {
      in.addData(
        (at("2024-01-01 10:00:00"), "alpha"),
        (at("2024-01-01 10:00:01"), "bravo"),
        (at("2024-01-01 10:00:02"), "charlie"))
      q.processAllAvailable()
      val rows = spark.table("run_audio_gate")
        .select("decision", "hamming").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(rows.length == 3)
      assert(rows.forall(_ == (("neardup", 0L))),
        s"corpus replays must self-match at 0: ${rows.toSeq}")
    } finally q.stop()
  }

  test("Run er_gate: every demo-source line corrupts a REAL catalog " +
      "name past the blocking prefix and links back within lev 1; " +
      "decisions and observability columns flow through") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.toMemory(
      Topologies.erGateTopology(spark, in.toDF().toDF("ts", "value"),
        "/root/testdata/sf0.001/part.parquet"),
      "run_er_gate", OutputMode.Append, ckpt())
    try {
      in.addData(
        (at("2024-01-01 10:00:00"), "alpha"),
        (at("2024-01-01 10:00:01"), "bravo"),
        (at("2024-01-01 10:00:02"), "charlie"))
      q.processAllAvailable()
      val rows = spark.table("run_er_gate")
        .select("decision", "lev").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(rows.length == 3)
      // demo mentions are one deletion off a real catalog name with
      // the blocking prefix intact: recall is exact by construction
      assert(rows.forall(r => r._1 == "match" && r._2 <= 1L),
        s"demo corruptions must link within lev 1: ${rows.toSeq}")
    } finally q.stop()
  }

  test("Run sessionize emits finalized sessions that equal the batch " +
      "sessionAgg on an in-order fixture (gap merge included)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val gap = "60 seconds"
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.toMemory(
      Topologies.sessionizeTopology(in.toDF().toDF("ts", "value"), gap,
        "0 seconds"),
      "run_sessions", OutputMode.Append, ckpt())
    // two users (distinct line contents), sessions that extend (within
    // gap), close (beyond gap), and restart
    val fixture = Seq(
      (at("2024-01-01 10:00:00"), "aaa"), // u1 s1
      (at("2024-01-01 10:00:30"), "aaa"), // u1 s1 extends
      (at("2024-01-01 10:00:40"), "bbb"), // u2 s1
      (at("2024-01-01 10:05:00"), "aaa"), // u1 s2 (gap passed)
      (at("2024-01-01 10:05:30"), "bbb")) // u2 s2
    // a far-future sentinel (third content bucket) pushes the watermark
    // past every fixture session's close so Append finalizes them all
    val sentinel = (at("2024-01-01 12:00:00"), "zzz")
    try {
      fixture.foreach { e => in.addData(e); q.processAllAvailable() }
      // two sentinel batches: the first advances the watermark past
      // every fixture session's close, the second triggers the batch
      // that emits against it (watermark commits at end-of-batch)
      in.addData(sentinel)
      q.processAllAvailable()
      in.addData((at("2024-01-01 12:00:01"), "zzz"))
      q.processAllAvailable()
      val streamed = spark.table("run_sessions")
        .select("s_start_ms", "user_id", "n_events").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.queries.AnalyticsQueries.sessionAgg(
        fixture.toDF("ts", "value")
          .select(col("ts"),
            org.apache.spark.sql.functions.pmod(
              org.apache.spark.sql.functions.xxhash64(col("value")),
              org.apache.spark.sql.functions.lit(50L)).as("user_id")),
        gap)
        .select("s_start_ms", "user_id", "n_events").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch.size == 4, s"fixture should yield 4 sessions: $batch")
      assert(streamed == batch,
        s"stream ${streamed.toSeq.sorted} != batch ${batch.toSeq.sorted}")
    } finally q.stop()
  }

  test("Run shuffle_shard assigns each epoch the batch projection's " +
      "exact shard/pos, restarting ranks per epoch") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val in = MemoryStream[(Timestamp, String)]
    val epochs =
      scala.collection.mutable.Map[Long, Seq[(String, Long, Long)]]()
    val q = in.toDF().toDF("ts", "value").writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val rows = Topologies.epochShardAssignment(batch)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        epochs.synchronized { epochs(id) = rows.toSeq }
      }.start()
    try {
      val e0 = Seq("alpha beta", "gamma delta", "epsilon zeta", "eta theta")
      val e1 = Seq("iota kappa", "alpha beta") // a repeat from epoch 0
      in.addData(e0.map(t => (at("2024-01-01 10:00:00"), t)))
      q.processAllAvailable()
      in.addData(e1.map(t => (at("2024-01-01 10:01:00"), t)))
      q.processAllAvailable()
      // each epoch's live assignment == the batch projection of the
      // same slice (shard from the seeded hash, pos ranked within the
      // epoch only — ranks restart per epoch, epoch 0 unaffected)
      def expected(texts: Seq[String]): Set[(String, Long, Long)] =
        graft.queries.PipelineQueries.shardProjection(
          texts.toDF("text"), col("h"))
          .select(col("h"), col("shard"), col("pos"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .toSet
      val got = epochs.synchronized(epochs.toMap)
      assert(got.keySet == Set(0L, 1L), s"epochs seen: ${got.keySet}")
      assert(got(0L).toSet == expected(e0))
      assert(got(1L).toSet == expected(e1))
      // repeated content keeps its shard across epochs (seeded content
      // hash), while pos is epoch-relative
      val shared = got(0L).map(_._1).toSet intersect got(1L).map(_._1).toSet
      assert(shared.nonEmpty, "expected the repeated line in both epochs")
      shared.foreach { h =>
        assert(got(0L).find(_._1 == h).get._2 == got(1L).find(_._1 == h).get._2,
          s"shard moved across epochs for $h")
      }
    } finally q.stop()
  }

  test("Run pageview_count --ttl evicts a silent url through the real " +
      "TSV parse (ts survives PageViewOps.parse)") {
    implicit val sqlCtx = spark.sqlContext
    def pv(url: String): String = // url \t status \t zip \t user_id
      s"$url\t200\t10001\t7" // user_id is IntegerType — must be numeric
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.toMemory(
      Topologies.pageViewCountTopology(in.toDF().toDF("ts", "value"),
        Some(600 * 1000L)),
      "run_pvc_ttl", OutputMode.Update, ckpt())
    try {
      in.addData((at("2024-01-01 10:00:00"), pv("/a")),
        (at("2024-01-01 10:00:00"), pv("/a")),
        (at("2024-01-01 10:00:00"), pv("/b")))
      q.processAllAvailable() // /a=2, /b=1
      in.addData((at("2024-01-01 11:00:00"), pv("/b")))
      q.processAllAvailable() // watermark 11:00 > /a's 10:10 timeout
      in.addData((at("2024-01-01 12:00:00"), pv("/c")))
      q.processAllAvailable() // /a evicted
      in.addData((at("2024-01-01 12:01:00"), pv("/a")))
      q.processAllAvailable() // /a restarts
      val out = spark.table("run_pvc_ttl").as[(String, Long)].collect()
      val a = out.filter(_._1 == "/a").map(_._2).toSet
      assert(a == Set(2L, 1L), s"/a not evicted+restarted: $a")
      assert(out.filter(_._1 == "/b").map(_._2).max == 2L)
    } finally q.stop()
  }

  test("Run neardup_gate admits live lines exactly as the batch " +
      "band-collide rule; verbatim corpus docs reject, sub-n admit") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val corpusPath = "/root/testdata/sf0.001/documents.parquet"
    val corpusTexts = spark.read.parquet(corpusPath)
      .select("text").collect().map(_.getString(0))
    // fresh mix: verbatim corpus docs (their own bands are in the
    // model -> reject), lightly perturbed docs (the batch rule
    // decides), novel and sub-n lines (admit)
    val fresh: Seq[String] = corpusTexts.take(5).toSeq ++
      corpusTexts.slice(5, 8).map(t => "zq " + t) ++
      Seq("zzq wwq vvq uuq rrq ttq qqt", "one two")
    val freshDf = fresh.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val admittedIds = graft.ops.DedupOps.bandCollideAdmit(
      freshDf, spark.read.parquet(corpusPath), col("doc_id"), col("text"))
      .as[Long].collect().toSet
    val batchTexts = fresh.zipWithIndex.collect {
      case (t, i) if admittedIds(i.toLong) => t }.toSet
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.toMemory(
      Topologies.nearDupGateTopology(spark, in.toDF().toDF("ts", "value"), corpusPath),
      "run_neardup", OutputMode.Append, ckpt())
    try {
      val t0 = at("2024-01-01 10:00:00")
      in.addData(fresh.map(t => (t0, t)).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("run_neardup")
        .select("text").collect().map(_.getString(0)).toSet
      assert(got == batchTexts, "live admit set must equal the batch rule")
      assert(!got.contains(corpusTexts.head),
        "a verbatim corpus doc must be rejected")
      assert(got.contains("one two"), "a sub-n line must be admitted")
      assert(got.nonEmpty && got.size < fresh.toSet.size,
        "the fixture must exercise both branches")
    } finally q.stop()
  }

  test("entropy_gate admits live lines exactly inside the corpus-learned " +
      "entropy band; a degenerate line rejects low, garbled rejects high") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val sfd = "/root/testdata/sf0.001"
    val batch = graft.queries.PipelineQueries.textEntropy(spark, sfd)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // replay the corpus + two planted extremes through the gate
    val texts = spark.read.parquet(s"$sfd/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val degenerate = "aaaa aaaa aaaa aaaa aaaa aaaa"
    val garbled = (0 until 200).map(i => (33 + (i * 37) % 94).toChar).mkString
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.toMemory(
      Topologies.entropyGateTopology(spark, in.toDF().toDF("ts", "value"),
        s"$sfd/documents.parquet"),
      "run_entropy_gate", OutputMode.Append, ckpt())
    try {
      val t0 = at("2024-01-01 10:00:00")
      in.addData(((texts.map(_._2) :+ degenerate :+ garbled))
        .map(t => (t0, t)).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("run_entropy_gate")
        .select("text").collect().map(_.getString(0)).toSet
      assert(!got.contains(degenerate), "degenerate text must reject low")
      assert(!got.contains(garbled), "garbled text must reject high")
      // the admitted corpus slice is exactly the [lo, hi] band members
      val admittedIds = texts.collect { case (id, t) if got(t) => id }.toSet
      val lo = batch.values.min
      val hi = batch.values.max
      assert(admittedIds.nonEmpty && admittedIds.size < texts.length,
        "the p5/p95 band must trim the corpus tails")
      // band consistency: every admitted doc's entropy is within the
      // span of admitted values, and every rejected corpus doc sits
      // outside that span (the band is an interval)
      val admitted = admittedIds.map(batch)
      val (bandLo, bandHi) = (admitted.min, admitted.max)
      texts.foreach { case (id, t) =>
        val e = batch(id)
        if (e > bandLo && e < bandHi)
          assert(got(t), s"doc $id inside the band must admit")
      }
      assert(lo < bandLo || hi > bandHi, "tails exist outside the band")
    } finally q.stop()
  }

  test("winnow_gate admits live lines exactly as the batch rare-" +
      "fingerprint collision rule; a verbatim corpus run rejects and " +
      "the guarantee holds: a planted K+W-1 shared run is caught") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.PipelineQueries
    val corpusPath = "/root/testdata/sf0.001/documents.parquet"
    val corpus = spark.read.parquet(corpusPath)
    val corpusTexts = corpus.select("text").collect().map(_.getString(0))
    val kw = PipelineQueries.WinnowK + PipelineQueries.WinnowW - 1
    // a corpus doc's own run of exactly K+W-1 words inside novel
    // context: the winnowing guarantee makes >= 1 collision certain,
    // though admission needs >= WinnowMinShared — so also plant a
    // doc carrying a LONG verbatim run (many fingerprints)
    val run = corpusTexts.head.split("\\s+").take(kw).mkString(" ")
    val longRun = corpusTexts.head.split("\\s+").take(30).mkString(" ")
    val fresh: Seq[String] = corpusTexts.take(4).toSeq ++ Seq(
      s"zz1 zz2 zz3 $run zz4 zz5 zz6",
      s"yy1 yy2 $longRun yy3",
      (1 to 30).map(i => s"novel$i").mkString(" "),
      "so sh")
    // batch rule: < WinnowMinShared distinct fingerprint hashes in the
    // rare corpus set
    val rare = PipelineQueries.rareWinnowFingerprints(
      PipelineQueries.winnowDocFingerprints(corpus))
      .collect().map(_.getLong(0)).toSet
    val expectAdmit = fresh.filter { t =>
      val fp = PipelineQueries.winnowDocFingerprints(
        Seq((0L, t)).toDF("doc_id", "text"))
        .select("sel_h").collect().map(_.getLong(0)).toSet
      fp.count(rare) < PipelineQueries.WinnowMinShared
    }.toSet
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.toMemory(
      Topologies.winnowGateTopology(spark, in.toDF().toDF("ts", "value"), corpusPath),
      "run_winnow_gate", OutputMode.Append, ckpt())
    try {
      in.addData(fresh.map(t => (at("2024-01-01 10:00:00"), t)).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("run_winnow_gate")
        .select("text").collect().map(_.getString(0)).toSet
      assert(got == expectAdmit, "live admit set must equal the batch rule")
      assert(!got.contains(fresh(5)),
        "a long verbatim corpus run must be rejected")
      assert(got.contains(fresh(6)) && got.contains(fresh(7)),
        "novel and sub-K docs must admit")
      assert(got.nonEmpty && got.size < fresh.size,
        "the fixture must exercise both branches")
    } finally q.stop()
  }

  test("trained_gate admits live lines exactly as the trained model's " +
      "own margin rule: on a separable corpus the gate passes the " +
      "positive class and rejects the rest") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // separable fixture (the classifyTrain spec device): en docs use
    // one vocabulary, non-en another
    val enV = (1 to 12).map(i => s"envocab$i")
    val xxV = (1 to 12).map(i => s"xxvocab$i")
    val docs = (0 until 40).map { i =>
      val v = if (i % 2 == 0) enV else xxV
      ((0 until 15).map(j => v((i + j * 3) % v.length)).mkString(" "),
        if (i % 2 == 0) "en" else "xx")
    }
    val dir = tempDir("trained-gate")
    docs.zipWithIndex.map { case ((t, l), i) => (i.toLong, t, l) }
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.toMemory(
      Topologies.trainedGateTopology(spark, in.toDF().toDF("ts", "value"),
        s"$dir/documents.parquet"),
      "run_trained_gate", OutputMode.Append, ckpt())
    try {
      val t0 = at("2024-01-01 10:00:00")
      in.addData(docs.map { case (t, _) => (t0, t) }.toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("run_trained_gate")
        .select("text", "margin_micro").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val enTexts = docs.collect { case (t, "en") => t }.toSet
      assert(got.keySet == enTexts,
        s"gate must admit exactly the positive class: got ${got.size}, want ${enTexts.size}")
      assert(got.values.forall(_ > 0L), "admitted margins must be positive")
    } finally q.stop()
  }

  test("dsir_gate admits live lines exactly at the batch top-N score " +
      "threshold: corpus replay admits the batch-selected set (plus " +
      "cutoff ties), a target-vocab line admits, off-domain and " +
      "wordless lines reject") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val sfd = "/root/testdata/sf0.01"
    val corpusPath = s"$sfd/documents.parquet"
    // batch rule: the top-N cut's minimum score is the gate threshold;
    // ties AT the cutoff admit (documented gate contract)
    val scores = graft.queries.PipelineQueries.dsirScores(
      spark.read.parquet(corpusPath))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val thr = scores.toSeq.sortBy { case (id, s) => (-s, id) }
      .take(graft.queries.PipelineQueries.DsirN.toInt).map(_._2).min
    val texts = spark.read.parquet(corpusPath)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val wantTexts = texts.collect {
      case (id, t) if scores.contains(id) && scores(id) >= thr => t }.toSet
    // planted extremes CONSTRUCTED from the model (an arbitrary
    // nonsense word lands in an arbitrary bucket whose log-ratio may
    // well be positive — the first fixture draft learned this the
    // hard way): a word from the most-negative bucket repeated floods
    // the score below any threshold; one from the most-positive
    // bucket repeated enough clears it
    val model = graft.queries.PipelineQueries.dsirModel(
      spark.read.parquet(corpusPath)).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    def bucketOf(w: String): Long =
      graft.functions.VectorMath.dsirPrefix60(w) %
        graft.queries.PipelineQueries.DsirBuckets
    val probeWords = (0 until 2000).map(i => s"probe$i")
    val negWord = probeWords.minBy(w => model.getOrElse(bucketOf(w), 0L))
    val posWord = probeWords.maxBy(w => model.getOrElse(bucketOf(w), 0L))
    val (negLr, posLr) = (model(bucketOf(negWord)), model(bucketOf(posWord)))
    assert(negLr < 0 && posLr > 0, s"model must span signs: $negLr $posLr")
    val offDomain = Seq.fill(40)(negWord).mkString(" ")
    val targetish = Seq.fill(
      math.max(1, (thr / posLr).toInt + 2))(posWord).mkString(" ")
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.toMemory(
      Topologies.dsirGateTopology(spark, in.toDF().toDF("ts", "value"), corpusPath),
      "run_dsir_gate", OutputMode.Append, ckpt())
    try {
      val t0 = at("2024-01-01 10:00:00")
      in.addData((texts.map(_._2) :+ offDomain :+ "   " :+ targetish)
        .map(t => (t0, t)).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("run_dsir_gate")
        .select("text").collect().map(_.getString(0)).toSet
      assert(got.intersect(texts.map(_._2).toSet) == wantTexts,
        s"gate must admit exactly the batch threshold set: " +
          s"extra=${got.intersect(texts.map(_._2).toSet) diff wantTexts} " +
          s"missing=${wantTexts diff got}")
      assert(!got.contains(offDomain),
        s"the negative-bucket flood (${40L * negLr} vs thr $thr) must reject")
      assert(got.contains(targetish),
        "the positive-bucket line must clear the threshold")
      assert(!got.contains("   "), "a wordless line must reject")
      assert(wantTexts.nonEmpty && wantTexts.size < texts.length,
        "the fixture must exercise both branches")
    } finally q.stop()
  }

  test("embed_gate admits live vectors exactly as the batch " +
      "band-collide rule; verbatim corpus vectors reject") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // corpus = even vec_ids; arrivals = ALL vectors, so the even half
    // is verbatim-in-corpus (guaranteed reject: its own bands are the
    // model's) and the odd half splits on the banding rule
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val corpus = all.filter(col("vec_id") % 2 === 0)
    val batchAdmit = graft.ops.SimilarityOps
      .bandCollideAdmitEmbedding(all, corpus)
      .select("vec_id").as[Long].collect().toSet
    val arrivals = all.as[(Long, Array[Float])].collect()
    val in = MemoryStream[(Long, Array[Float])]
    val q = StreamOps.toMemory(
      StreamOps.embedNearDupGateStream(
        in.toDF().toDF("vec_id", "embedding"), corpus),
      "run_embed_gate", OutputMode.Append, ckpt())
    try {
      in.addData(arrivals.toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("run_embed_gate")
        .select("vec_id").as[Long].collect().toSet
      assert(got == batchAdmit, "live admit set must equal the batch rule")
      assert(got.forall(_ % 2 == 1), "verbatim corpus vectors must reject")
      assert(got.nonEmpty && got.size < arrivals.length,
        "the fixture must exercise both branches")
    } finally q.stop()
  }
}
